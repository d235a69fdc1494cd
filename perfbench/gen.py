"""Seeded input generators for the three benchmark workloads.

Everything the program reads during a run is written here, from a seed:

* ``tables(out_dir)``: the ten parquet tables the query suites read
  (TPC-H-ish star schema, an ``events`` stream, a ``documents`` corpus with
  planted near-duplicates and an ``embeddings`` table). The data seed is
  fixed (``TABLES_SEED``) so the recorded per-query digests hold for every
  run; the run seed only sets the query order.
* ``etl(out_dir, seed)``: one ArcGIS fixture directory and one VisualCrossing
  fixture directory per simulated day, the canonical history the lake is
  seeded with, and ``expected.json`` with what the sink must accept.

The same arguments always give byte-identical files.
"""

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES_SEED = 20241101

# ~sf0.01 of the TESTDATA.md table layout: small enough that a warm pass of
# each query suite fits one benchmark run, large enough that every query
# returns rows.
SIZES = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 250, "embeddings": 250,
}

WORDS = ("a the batch part spark line column order small sort fast value scan "
         "hash slow group agg filter query big key window row table stream "
         "merge data vector customer join").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _ts_us(start, seconds):
    base = np.datetime64(start, "us")
    return (base + (seconds * 1_000_000).astype("timedelta64[us]")).astype("datetime64[us]")


def tables(out_dir, seed=TABLES_SEED):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = SIZES

    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }), f"{out_dir}/nation.parquet")

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n["customer"])],
    }), f"{out_dir}/customer.parquet")

    _write(pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2),
    }), f"{out_dir}/supplier.parquet")

    adj = np.array(["large", "hot", "blue", "small", "red", "green", "shiny", "cold"])
    noun = np.array(["ring", "bolt", "gear", "nut", "screw", "pipe", "valve", "spring"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n["part"], dtype=np.int64)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n["part"])], " "),
                              noun[rng.integers(0, 8, n["part"])]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n["part"]).astype(str)),
        "p_type": types[rng.integers(0, 6, n["part"])],
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    }), f"{out_dir}/part.parquet")

    no = n["orders"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    order_days = rng.integers(0, (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days + 1, no)
    _write(pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts_us("1995-01-01", order_days * 86400),
        "o_orderpriority": prio[rng.integers(0, 5, no)],
    }), f"{out_dir}/orders.parquet")

    nl = n["lineitem"]
    ship_days = rng.integers(1, (dt.date(2001, 11, 4) - dt.date(1995, 1, 1)).days + 1, nl)
    _write(pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, n["part"], nl),
        "l_suppkey": rng.integers(0, n["supplier"], nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts_us("1995-01-01", ship_days * 86400),
    }), f"{out_dir}/lineitem.parquet")

    ne = n["events"]
    gaps = rng.exponential(30 * 86400 / ne, ne)
    _write(pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts_us("2024-01-01", np.cumsum(gaps)),
        "user_id": rng.integers(0, 150, ne),
        "event_type": np.array(["signup", "click", "error", "view", "purchase"])[
            rng.integers(0, 5, ne)],
        "value": np.round(rng.uniform(0.0, 560.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }), f"{out_dir}/events.parquet")

    # documents: random word texts; ~5% are near-duplicates (a copy with one
    # word appended or swapped) and ~1% exact copies, so every dedup
    # detector has clusters to find
    nd = n["documents"]
    texts = []
    for i in range(nd):
        r = rng.random()
        if i > 20 and r < 0.05:
            src = texts[int(rng.integers(0, i))].split(" ")
            if rng.random() < 0.5:
                src.append("dup")
            else:
                src[int(rng.integers(0, len(src)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(src))
        elif i > 20 and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    _write(pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, nd).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out_dir}/documents.parquet")

    # embeddings: 10 labelled clusters of unit vectors in 64 dims, with a
    # few near-copies for the semantic dedup detectors
    nv = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, nv)
    vecs = centers[label] + rng.normal(0.0, 0.8, (nv, 64))
    for i in range(20, nv):
        if rng.random() < 0.05:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(0.0, 0.01, 64)
            label[i] = label[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }), f"{out_dir}/embeddings.parquet")


# --- etl_daily --------------------------------------------------------------

HISTORY_START = dt.date(2024, 9, 1)  # the violations cold start
AGENCIES = ["METROPOLITAN POLICE DEPARTMENT", "DEPARTMENT OF PUBLIC WORKS",
            "DC HOUSING AUTHORITY", "US PARK POLICE", "DEPT OF TRANSPORTATION"]
CODES = [("T119", "SPEED 11-15 MPH OVER THE SPEED LIMIT", 100),
         ("T120", "SPEED 16-20 MPH OVER THE SPEED LIMIT", 150),
         ("P039", "NO PARKING STREET CLEANING", 45),
         ("P170", "FAIL TO DISPLAY CURRENT TAGS", 100),
         ("T202", "FAIL TO STOP PER REGULATIONS FACING RED SIGNAL", 150)]
CONDITIONS = ["Clear", "Partially cloudy", "Rain, Partially cloudy", "Overcast",
              "Rain showers", "Snow"]


def _day_ms(day):
    return int(dt.datetime(day.year, day.month, day.day,
                           tzinfo=dt.timezone.utc).timestamp() * 1000)


def _draw(rng, oids, day):
    """Attribute columns of ArcGIS features with ``oids`` issued on ``day``."""
    k = len(oids)
    code = rng.integers(0, len(CODES), k)
    fine = np.array([c[2] for c in CODES])[code]
    acc = rng.random(k)
    return {
        "OBJECTID": np.asarray(oids, dtype=np.int64),
        "ISSUE_DATE": _day_ms(day) + rng.integers(0, 86400, k) * 1000,
        "ISSUING_AGENCY_NAME": np.array(AGENCIES)[rng.integers(0, len(AGENCIES), k)],
        "ACCIDENT_INDICATOR": np.where(acc < 0.1, None, np.where(acc < 0.3, "Y", "N")),
        "LOCATION": np.char.add(np.char.add(
            (rng.integers(1, 60, k) * 100).astype(str), " BLK STREET "),
            np.char.add(rng.integers(1, 40, k).astype(str), " NW")),
        "VIOLATION_CODE": np.array([c[0] for c in CODES])[code],
        "VIOLATION_PROCESS_DESC": np.array([c[1] for c in CODES])[code],
        "FINE_AMOUNT": fine,
        "TOTAL_PAID": np.where(rng.random(k) < 0.5, 0, fine),
        "LATITUDE": np.round(38.85 + rng.random(k) * 0.12, 6),
        "LONGITUDE": np.round(-77.1 + rng.random(k) * 0.15, 6),
    }


def _features(cols):
    names = list(cols)
    rows = zip(*(cols[c].tolist() for c in names))
    return [dict(zip(names, r), violation_id=f"{r[0]}-DC") for r in rows]


def _canonical(cols, month):
    """The rows Transforms.violationsFromArcGis lands for ``cols``."""
    ts = cols["ISSUE_DATE"].astype("datetime64[ms]").astype("datetime64[us]")
    return pa.table({
        "violation_id": np.char.add(month + "_", cols["OBJECTID"].astype(str)),
        "issue_date": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "violation_date": ts.astype("datetime64[D]"),
        "issuing_agency_name": cols["ISSUING_AGENCY_NAME"],
        "accident_indicator": pa.array(cols["ACCIDENT_INDICATOR"].tolist(), pa.string()),
        "location": cols["LOCATION"],
        "violation_code": cols["VIOLATION_CODE"],
        "violation_desc": cols["VIOLATION_PROCESS_DESC"],
        "fine_amount": cols["FINE_AMOUNT"].astype(np.float64),
        "total_paid": cols["TOTAL_PAID"].astype(np.float64),
        "latitude": cols["LATITUDE"], "longitude": cols["LONGITUDE"],
        "month": np.full(len(ts), month),
    }, schema=VIOLATION_SCHEMA)


VIOLATION_SCHEMA = pa.schema([
    ("violation_id", pa.string()), ("issue_date", pa.timestamp("us", tz="UTC")),
    ("violation_date", pa.date32()), ("issuing_agency_name", pa.string()),
    ("accident_indicator", pa.string()), ("location", pa.string()),
    ("violation_code", pa.string()), ("violation_desc", pa.string()),
    ("fine_amount", pa.float64()), ("total_paid", pa.float64()),
    ("latitude", pa.float64()), ("longitude", pa.float64()), ("month", pa.string())])
WEATHER_SCHEMA = pa.schema([
    ("weather_date", pa.date32()), ("tempmax", pa.float64()), ("tempmin", pa.float64()),
    ("temp", pa.float64()), ("precip", pa.float64()), ("humidity", pa.float64()),
    ("windspeed", pa.float64()), ("conditions", pa.string()), ("is_rain", pa.int32())])


def _weather_day(rng, day):
    tmax = round(float(rng.uniform(5, 30)), 1)
    tmin = round(tmax - float(rng.uniform(3, 12)), 1)
    precip = round(float(rng.choice([0.0, 0.0, rng.uniform(0.1, 20)])), 2)
    return {"datetime": day.isoformat(), "tempmax": tmax, "tempmin": tmin,
            "temp": round((tmax + tmin) / 2, 1), "precip": precip,
            "humidity": round(float(rng.uniform(30, 95)), 1),
            "windspeed": round(float(rng.uniform(0, 30)), 1),
            "conditions": CONDITIONS[int(rng.integers(0, len(CONDITIONS)))]}


def _weather_row(w, day):
    """The weather_daily row Transforms.weatherFromVc lands (daily rain rule)."""
    row = {c: w[c] for c in WEATHER_SCHEMA.names if c in w}
    row.update(weather_date=day,
               is_rain=int(w["precip"] > 0 or "rain" in w["conditions"].lower()))
    return row


def etl(out_dir, seed, history_days, new_days, per_day, redeliver=0.08, in_batch_dup=0.02):
    """History of ``history_days`` x ~``per_day`` rows from the cold start,
    then ``new_days`` fixture days. Each fixture day re-delivers a seeded
    share of ids that already landed this month and repeats a few of its own
    features verbatim (a page-boundary duplicate), so the sink has work to
    refuse."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    next_oid = 1
    landed = {}  # month -> OBJECTIDs already in the lake
    hist, weather = [], []

    def size():
        return int(rng.integers(int(per_day * 0.9), int(per_day * 1.1) + 1))

    day = HISTORY_START
    for _ in range(history_days):
        month = day.isoformat()[:7]
        oids = np.arange(next_oid, next_oid + size())
        next_oid += len(oids)
        hist.append(_canonical(_draw(rng, oids, day), month))
        landed.setdefault(month, []).extend(oids.tolist())
        weather.append(_weather_row(_weather_day(rng, day), day))
        day += dt.timedelta(days=1)
    history = pa.concat_tables(hist)
    weather = pa.Table.from_pylist(weather, WEATHER_SCHEMA)
    _write(history, f"{out_dir}/history_violations.parquet")
    _write(weather, f"{out_dir}/history_weather.parquet")
    # the lake as the sinks leave it after a full load and a compaction: one
    # file per month partition, and the weather table
    for month in sorted(set(history["month"].to_pylist())):
        part = f"{out_dir}/lake/violations/month={month}"
        os.makedirs(part)
        rows = history.filter(pc.equal(history["month"], month))
        _write(rows.drop_columns(["month"]), f"{part}/part-00000.parquet")
    os.makedirs(f"{out_dir}/lake/weather_daily")
    _write(weather, f"{out_dir}/lake/weather_daily/part-00000.parquet")

    days, new, new_weather = [], [], []
    for _ in range(new_days):
        month, d = day.isoformat()[:7], day.isoformat()
        fresh = np.arange(next_oid, next_oid + size())
        next_oid += len(fresh)
        k = len(fresh)
        old = landed.get(month, [])
        n_re = min(len(old), int(k * redeliver))
        re_ids = np.array(old)[rng.choice(len(old), n_re, replace=False)] if n_re else []
        cols = _draw(rng, np.concatenate([fresh, np.asarray(re_ids, dtype=np.int64)]), day)
        feats = _features(cols)
        feats += [feats[i] for i in rng.choice(k, int(k * in_batch_dup), replace=False)]
        feats = [feats[i] for i in rng.permutation(len(feats))]
        os.makedirs(f"{out_dir}/arcgis/{d}")
        with open(f"{out_dir}/arcgis/{d}/features.json", "w") as f:
            json.dump({"features": [{"attributes": a} for a in feats]}, f, separators=(",", ":"))
        w = _weather_day(rng, day)
        os.makedirs(f"{out_dir}/vc/{d}")
        with open(f"{out_dir}/vc/{d}/days.json", "w") as f:
            json.dump({"days": [w]}, f, separators=(",", ":"))
        new_weather.append(_weather_row(w, day))
        new.append(_canonical({c: v[:k] for c, v in cols.items()}, month))
        landed.setdefault(month, []).extend(fresh.tolist())
        days.append({"date": d, "offered": len(feats), "accepted": k})
        day += dt.timedelta(days=1)
    _write(pa.concat_tables(new), f"{out_dir}/expected_new.parquet")
    _write(pa.Table.from_pylist(new_weather, WEATHER_SCHEMA), f"{out_dir}/expected_weather_new.parquet")
    with open(f"{out_dir}/expected.json", "w") as f:
        json.dump({"history_rows": sum(t.num_rows for t in hist),
                   "history_end": (HISTORY_START + dt.timedelta(days=history_days - 1)).isoformat(),
                   "days": days}, f, indent=1)
