"""Seeded input generators for the graft benchmark.

Everything here is a pure function of its seed: the same seed gives
byte-identical files, a different seed gives different ones.

* `tables(out_dir, seed, sf)` writes the ten parquet tables the declared
  queries read (`region nation customer supplier part orders lineitem
  events documents embeddings`), one file each, in the schemas of the
  project's test data and with its row counts, vocabulary, document
  lengths, duplicate structure and key distributions (README.md compares
  the two). `sf=0.1` gives 600k-row lineitem.
* `weather_days(seed, cities, days)` returns the daily_load plan: per day
  the current and forecast payloads in the extractor's JSON shape, plus
  the expectations the run is checked against.
"""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join filter "
         "big group hash customer sort order slow line part fast row the agg key "
         "query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "new", "hot", "small", "large", "old", "blue", "cold"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet", compression="snappy")


def _days(rng, n, start, end):
    """n timestamp[us] values on whole days in [start, end)."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi, n).astype("datetime64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def tables(out_dir, seed, sf=0.1):
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part, n_ord = (int(x * sf) for x in (150_000, 10_000, 200_000, 1_500_000))
    n_events, n_users = int(1_000_000 * sf), max(1, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    names = np.array([f"{a} {n}" for a in PART_ADJ for n in PART_NOUN])
    pkeys = np.arange(n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pkeys, pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pkeys % 1000) / 10.0, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-02"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    # four lines per order on average, each on a uniformly drawn order, so
    # lines per order are near Poisson(4) and ~2% of orders have none; the
    # line number is drawn from 1..7 on its own
    n_li = 4 * n_ord
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-05")})

    base = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span, n_events)) + base
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    # documents: 10-99 uniform words; 5% are another, original document
    # plus " dup" (near-duplicate pairs, no exact duplicates)
    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 100))])
             for _ in range(n_docs)]
    picked = rng.permutation(n_docs)
    n_dup = n_docs // 20
    for i, j in zip(picked[:n_dup], picked[n_dup:2 * n_dup]):
        texts[i] = texts[j] + " dup"
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})


# --------------------------------------------------------------- daily_load

EXTRACT_HOUR = 6           # one extraction per day at 06:00 UTC
FORECAST_POINTS = 40       # 3-hourly, five days ahead
BASE_DAY = np.datetime64("2024-03-01", "D")
CONDITIONS = ["Clear", "Clouds", "Rain", "Snow"]
TIMEZONES = [-18000, 0, 32400, 36000, 19800, 14400, -10800, 3600]
BAD_SHARE = 0.04        # current payloads failing the DQ gate, from day 1
NOGUST_SHARE = 0.1      # current payloads without wind.gust
DRIFT_SHARE = 0.01      # cities whose coordinates move for good on a day
CORRECTION_EVERY = 4    # every 4th day voids actuals of two days before
CORRECTED_SHARE = 0.05  # ... for this share of cities
# forecast minus actual, chosen away from the 1/3/5 degree category edges
ERRORS = (0.5, -0.5, 2.0, -2.0, 4.0, -4.0, 7.0, -7.0)


def _category(err):
    e = abs(err)
    return "Excellent" if e <= 1 else "Good" if e <= 3 else "Fair" if e <= 5 else "Poor"


def _bucket(hours):
    return ("0-24 hours" if hours <= 24 else "24-48 hours" if hours <= 48
            else "48-72 hours" if hours <= 72 else "72+ hours")


def day_stamp(d):
    """(ISO extraction timestamp, epoch seconds, ISO date) of day `d`."""
    day = BASE_DAY + d
    epoch = int(day.astype("datetime64[s]").astype(np.int64)) + EXTRACT_HOUR * 3600
    return f"{day}T{EXTRACT_HOUR:02d}:00:00", epoch, str(day)


def weather_days(seed, cities, days):
    """The daily_load plan. Day 0 is an all-valid initial load; from day 1
    a seeded share of current payloads fails the DQ gate, lacks a gust,
    or carries drifted coordinates (a new SCD2 version). Every
    CORRECTION_EVERY-th day deletes a share of the actuals recorded two
    days earlier (a late correction). Returns a list of day dicts."""
    rng = np.random.default_rng([seed, 2])
    names = [(f"City{i:05d}", f"C{i % 50:02d}") for i in range(cities)]
    lat = np.round(rng.uniform(-60, 60, cities), 4)
    lon = np.round(rng.uniform(-170, 170, cities), 4)
    tz = np.array(TIMEZONES)[rng.integers(0, len(TIMEZONES), cities)]
    # actual temperatures and conditions for every (day, city), decided up front
    # so forecasts can be set a known error away from the observation they hit
    temp = np.round(rng.uniform(-20, 35, (days + 6, cities)), 1)
    cond = rng.integers(0, len(CONDITIONS), (days + 6, cities))
    valid = rng.random((days, cities)) >= BAD_SHARE
    valid[0] = True
    drift = (rng.random((days, cities)) < DRIFT_SHARE) & valid
    drift[0] = False
    version = np.zeros(cities, dtype=np.int64)  # SCD2 version index per city
    # per (day, city): the version key in force once that day is loaded
    key_at = np.zeros((days, cities), dtype=np.int64)
    alive = valid.copy()  # actual facts still present (not corrected away)
    # forecast temperature of the point that lands on day d+j's observation
    hit_temp = np.zeros((days, cities, 5))
    plan = []
    for d in range(days):
        iso, epoch, date = day_stamp(d)
        batch = iso.replace("-", "").replace(":", "").replace("T", "_")
        version = version + drift[d]
        key_at[d] = version
        lat_d = np.round(lat + 0.01 * version, 4)
        current, forecast = [], []
        nogust = rng.random(cities) < NOGUST_SHARE
        badkind = rng.integers(0, 3, cities)
        for c, (city, country) in enumerate(names):
            t, h = float(temp[d, c]), int(rng.integers(20, 95))
            t_field = f"{t}"
            if not valid[d, c]:
                if badkind[c] == 0:
                    t_field = "99.0"
                elif badkind[c] == 1:
                    h = 150
                else:
                    t_field = "null"
            gust = "" if nogust[c] else f'"gust": {round(float(rng.uniform(0, 20)), 1)}, '
            cnd = CONDITIONS[cond[d, c]]
            current.append(
                f'{{"city_name": "{city}", "country": "{country}", '
                f'"extraction_timestamp": "{iso}", "batch_id": "{batch}", "data_type": "current", '
                f'"coord": {{"lat": {lat_d[c]}, "lon": {lon[c]}}}, '
                f'"main": {{"temp": {t_field}, "feels_like": {round(t - 1.5, 1)}, '
                f'"temp_min": {round(t - 1, 1)}, "temp_max": {round(t + 1, 1)}, '
                f'"pressure": {int(rng.integers(990, 1030))}, "humidity": {h}}}, '
                f'"wind": {{"speed": {round(float(rng.uniform(0, 15)), 1)}, {gust}"deg": {int(rng.integers(0, 360))}}}, '
                f'"clouds": {{"all": {int(rng.integers(0, 101))}}}, "visibility": 10000, '
                f'"weather": [{{"id": 800, "main": "{cnd}", "description": "desc {cnd}", "icon": "01d"}}], '
                f'"timezone": {int(tz[c])}, "sys": {{"sunrise": {epoch - 3600}, "sunset": {epoch + 36000}}}}}')
            points = []
            for k in range(1, FORECAST_POINTS + 1):
                target = d + (3 * k) // 24 if (3 * k) % 24 == 0 else None
                if target is not None:
                    err = ERRORS[int(rng.integers(0, len(ERRORS)))]
                    ft = round(float(temp[target, c]) + err, 1)
                    hit_temp[d, c, target - d - 1] = ft
                    fc = CONDITIONS[cond[target, c]] if rng.random() < 0.7 else CONDITIONS[0]
                else:
                    ft = round(float(rng.uniform(-20, 35)), 1)
                    fc = CONDITIONS[int(rng.integers(0, len(CONDITIONS)))]
                points.append(
                    f'{{"dt": {epoch + 3 * 3600 * k}, "main": {{"temp": {ft}, "feels_like": {round(ft - 0.5, 1)}, '
                    f'"pressure": 1011, "humidity": 60}}, "wind": {{"speed": 3.0, "deg": 120}}, '
                    f'"clouds": {{"all": 40}}, "pop": 0.2, '
                    f'"weather": [{{"id": 500, "main": "{fc}", "description": "desc {fc}", "icon": "10d"}}]}}')
            forecast.append(
                f'{{"city_name": "{city}", "country": "{country}", '
                f'"extraction_timestamp": "{iso}", "batch_id": "{batch}", "data_type": "forecast", '
                f'"list": [{",".join(points)}]}}')
        corrected = []
        if d >= 2 and d % CORRECTION_EVERY == CORRECTION_EVERY - 1:
            pick = rng.random(cities) < CORRECTED_SHARE
            corrected = [names[c][0] for c in range(cities) if pick[c] and alive[d - 2, c]]
            alive[d - 2] &= ~pick
        plan.append({"day": d, "iso": iso, "epoch": epoch, "date": date,
                     "current": current, "forecast": forecast,
                     "valid_current": int(valid[d].sum()),
                     "drifts": int(drift[d].sum()),
                     "corrected_cities": corrected, "corrected_day": d - 2 if corrected else -1})
        plan[-1]["expect"] = _analytics_expect(d, alive, key_at, hit_temp, temp, valid)
    return plan


def _analytics_expect(d, alive, key_at, hit_temp, temp, valid):
    """Expected row counts of the four analytics queries after day `d`.

    Forecast points hit an observation when they land exactly on a later
    day's extraction time; a hit joins only when the actual survived
    corrections and the city kept the same SCD2 version (fact rows carry
    the location key current when they were loaded)."""
    buckets, cats, ranked = set(), set(), set()
    for fd in range(d + 1):
        for j in range(1, 6):
            ad = fd + j
            if ad > d:
                break
            hit = alive[ad] & (key_at[ad] == key_at[fd])
            if not hit.any():
                continue
            buckets.add(_bucket(24 * j))
            for c in np.flatnonzero(hit):
                cats.add(_category(float(hit_temp[fd, c, j - 1]) - float(temp[ad, c])))
            ranked.update(np.flatnonzero(hit & (key_at[fd] == key_at[d])).tolist())
    return {"q1": len(buckets), "q2": len(ranked), "q3": int(valid[d].sum()), "q4": len(cats)}
