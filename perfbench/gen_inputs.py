#!/usr/bin/env python3
"""Seeded input generator for the benchmark workloads; run.py calls it.

Writes only files; the program under test receives nothing else. The
same seed always writes the same bytes.

  gen_tables(seed, sf, out)
      The ten TPC-H-ish fixture tables the registered gates read
      (region nation customer supplier part orders lineitem events
      documents embeddings), one single-row-group parquet each, with the
      schemas and value shapes of the project's test fixtures. The gate
      workloads use sf = TABLES_SF.

  gen_resale(seed, out)
      Reference-shaped pipeline inputs for DAYS daily batches of
      LISTINGS entities and a replay of the first day: Propnex and SRX
      multiline-JSON listings and a data.gov.sg-shaped resale CSV
      snapshot of MONTHS months per day (FILES files per source, the
      way a scraper run leaves them), the four dimension tables, and
      out/truth.json with the planted answers the checks compare to.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


# sizes of the generated inputs (README "Inputs")
TABLES_SF = 0.01
LISTINGS = 1000
MONTHS = 24
DAYS = 2
FILES = 3


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows),
                   compression="snappy")


# ---------------------------------------------------------------- tables

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "cold", "new", "large"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "rod", "plate", "anvil",
             "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _day_ts(rng, n, start, end):
    """n midnight timestamps uniform over [start, end] (datetime64[us])."""
    days = (np.datetime64(end) - np.datetime64(start)).astype(int)
    return (np.datetime64(start, "D") +
            rng.integers(0, days + 1, n).astype("timedelta64[D]")
            ).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_tables(seed: int, sf: float, out: str) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(64, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_li = max(10, int(6_000_000 * sf))
    n_ev = max(10, int(1_000_000 * sf))
    n_doc = max(10, int(50_000 * sf))
    n_users = max(5, n_cust // 10)

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), f"{out}/supplier.parquet")
    pk = np.arange(n_part)
    _write(pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
    }), f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _day_ts(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }), f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": np.round(rng.uniform(0, 0.10, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _day_ts(rng, n_li, "1995-01-02", "2001-11-04"),
    }), f"{out}/lineitem.parquet")
    # events: strictly increasing timestamps over 30 days
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]")
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{out}/events.parquet")
    lens = rng.integers(10, 100, n_doc)
    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n)])
             for n in lens]
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out}/documents.parquet")
    labels = rng.integers(0, 10, n_doc)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.14 + rng.normal(0, 1, (n_doc, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_doc), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), f"{out}/embeddings.parquet")


# ---------------------------------------------------------------- resale

TOWNS = ["ANG MO KIO", "BEDOK", "BISHAN", "BUKIT BATOK", "BUKIT MERAH",
         "BUKIT PANJANG", "BUKIT TIMAH", "CENTRAL AREA", "CHOA CHU KANG",
         "CLEMENTI", "GEYLANG", "HOUGANG", "JURONG EAST", "JURONG WEST",
         "KALLANG/WHAMPOA", "MARINE PARADE", "PASIR RIS", "PUNGGOL",
         "QUEENSTOWN", "SEMBAWANG", "SENGKANG", "SERANGOON", "TAMPINES",
         "TOA PAYOH", "WOODLANDS", "YISHUN", "LIM CHU KANG", "TENGAH"]
STREETS = ["Ang Mo Kio Ave", "Bedok North Rd", "Bishan St", "Bukit Batok St",
           "Jalan Bukit Merah", "Clementi Ave", "Hougang Ave",
           "Jurong West St", "Pasir Ris Dr", "Punggol Field",
           "Sengkang East Way", "Tampines St", "Toa Payoh Lor",
           "Woodlands Dr", "Yishun Ring Rd", "Upper Serangoon Rd"]
FLAT_TYPES = ["2 ROOM", "3 ROOM", "4 ROOM", "5 ROOM", "EXECUTIVE",
              "MULTI GENERATION"]
FLAT_MODELS = ["Improved", "New Generation", "Model A", "Standard",
               "Simplified", "Premium Apartment", "Maisonette", "DBSS"]
FURNISH = ["Partially Furnished", "Fully Furnished", "Unfurnished"]
CSV_HEADER = ("month,town,flat_type,block,street_name,storey_range,"
              "floor_area_sqm,flat_model,lease_commence_date,resale_price")
PN_FIELDS = ["url", "location", "price", "price_psf", "street_town_district",
             "num_bedroom", "num_bathroom", "floor_area_sqft", "agent_name",
             "agent_id", "agent_email", "agent_phone_num", "listing_type",
             "property_group", "property_type", "district",
             "total_floor_area", "top", "furnishing", "tenure", "floor",
             "post_code", "street_name", "description", "facilities"]
# fields a sparse duplicate leaves blank: every one of them stays in
# the conformed output, so each blank adds one null to the row's count
PN_BLANKABLE = ["num_bathroom", "agent_name", "furnishing", "floor",
                "top", "facilities", "agent_phone_num"]
SRX_BLANKABLE = ["bathrooms", "agent_name", "furnish", "floor_level",
                 "built_year", "facilities", "model", "agent_phone_num"]


def _dims(out: str):
    """The four dimension tables: 81 postal sectors over 28 districts,
    28 district regions, 28 towns, 57 agencies."""
    sectors = [f"{i:02d}" for i in range(1, 83) if i != 74]
    sector_district = {s: 1 + (i * 28) // len(sectors)
                       for i, s in enumerate(sectors)}
    zones = {d: f"Zone {d}" for d in range(1, 29)}
    regions = {d: ("CCR" if d <= 11 else "RCR" if d <= 20 else "OCR")
               for d in range(1, 29)}
    town_district = {t: 1 + i for i, t in enumerate(TOWNS)}
    agencies = [(f"AGENCY {i:02d} REALTY PTE. LTD.",
                 f"L{3000000 + i * 7919:07d}{chr(65 + i % 26)}")
                for i in range(57)]
    os.makedirs(out, exist_ok=True)
    for name, tbl in {
        "district_code": pa.table({
            "district": pa.array([sector_district[s] for s in sectors],
                                 pa.int32()),
            "postal_sector": pa.array(sectors, pa.string()),
            "zone": [zones[sector_district[s]] for s in sectors]},
            schema=pa.schema([("district", pa.int32()),
                              pa.field("postal_sector", pa.string(), False),
                              ("zone", pa.string())])),
        "district_region": pa.table({
            "district": pa.array(list(regions), pa.int32()),
            "region": list(regions.values())}),
        "town_district": pa.table({
            "general_location": [t.title() for t in town_district],
            "district": pa.array(list(town_district.values()), pa.int64())}),
        "agency_id": pa.table({
            "agency": [a for a, _ in agencies],
            "agency_id": [i for _, i in agencies]}),
    }.items():
        os.makedirs(f"{out}/{name}", exist_ok=True)
        _write(tbl, f"{out}/{name}/part-00000.parquet")
    return sectors, sector_district, zones, regions, town_district, agencies


def _split_write_json(rows, d, prefix, files):
    os.makedirs(d, exist_ok=True)
    for k in range(files):
        with open(f"{d}/{prefix}-{k:03d}.json", "w", encoding="utf-8") as f:
            json.dump(rows[k::files], f, ensure_ascii=False, indent=1)


def gen_resale(seed: int, out: str) -> None:
    """DAYS daily batches of LISTINGS entities each (split over the two
    sources, with cross-source duplicates), then a replay of the first
    day. Day d's resale CSV snapshot holds months 0 .. MONTHS-DAYS+d, so
    every day adds one month."""
    listings, months, days, files = LISTINGS, MONTHS, DAYS, FILES
    rng = np.random.default_rng(seed)
    (sectors, sector_district, zones, regions, town_district,
     agencies) = _dims(f"{out}/dims")
    base = dt.date(2024, 3, 4)
    run_dates = [base + dt.timedelta(days=i) for i in range(days)]
    truth = {"days": [], "months": {}, "batches": [], "entities": {}}
    url_seq = 0

    def next_url(src):
        nonlocal url_seq
        url_seq += 1
        return f"https://{src}.example/listing/{seed}-{url_seq:08d}"

    for di, day in enumerate(run_dates):
        dkey = day.isoformat()
        pn_rows, srx_rows, ents = [], [], {}
        # unique (location, price) per day: block number x street x price
        locs = set()
        while len(locs) < listings:
            blk = int(rng.integers(1, 999))
            suffix = "" if rng.random() < 0.7 else "ABCD"[rng.integers(0, 4)]
            street = STREETS[rng.integers(0, len(STREETS))]
            num = int(rng.integers(1, 40))
            price = int(rng.integers(250, 1500)) * 1000
            locs.add((f"{blk}{suffix}", f"{street} {num}", price))
        for (blk, street, price) in sorted(locs):
            location = f"{blk} {street}"
            sector = sectors[rng.integers(0, len(sectors))]
            district = sector_district[sector]
            post = f"{sector}{int(rng.integers(0, 9999)):04d}"
            sqm = int(rng.integers(35, 160))
            beds = int(rng.integers(1, 6))
            agency, agency_id = agencies[rng.integers(0, len(agencies))]
            # planted malformed fields the lenient parsers must null
            bad_area = rng.random() < 0.05
            bad_beds = rng.random() < 0.05
            # copies: 0 = propnex only, 1 = srx only, 2 = both sources,
            # 3 = both sources plus a second sparse srx copy
            kind = int(rng.choice(4, p=[0.35, 0.35, 0.2, 0.1]))
            srcs = {0: ["pn"], 1: ["srx"], 2: ["pn", "srx"],
                    3: ["pn", "srx", "srx"]}[kind]
            best = int(rng.integers(0, len(srcs)))
            kept_url = None
            for ci, src in enumerate(srcs):
                url = next_url(src)
                n_blank = 0 if ci == best else 3 + int(rng.integers(0, 3))
                if ci == best:
                    kept_url = url
                phone = f"{int(rng.integers(80000000, 99999999))}"
                agent = f"R{int(rng.integers(100000, 999999))}" \
                        f"{chr(65 + int(rng.integers(0, 26)))}"
                if src == "pn":
                    row = {
                        "url": url,
                        "location": f"Blk {location}" if rng.random() < 0.5
                        else location.lower(),
                        "price": f"${price:,}",
                        "price_psf": f"${price // max(1, int(sqm * 10.764)):,} psf",
                        "street_town_district":
                            f"{street}\n{TOWNS[district - 1].title()} (D{district})",
                        "num_bedroom": "three" if bad_beds else str(beds),
                        "num_bathroom": str(max(1, beds - 1)),
                        "floor_area_sqft":
                            f"{int(sqm * 10.764):,} sqft" if bad_area else
                            f"{int(sqm * 10.764):,} sqft ({sqm} sqm)",
                        "agent_name": f"Agent {int(rng.integers(0, 500))}",
                        "agent_id": f"#{agent}",
                        "agent_email": f"agent{int(rng.integers(0, 500))}@propnex.com",
                        "agent_phone_num": f"+65 {phone}",
                        "listing_type": "Sale",
                        "property_group": "HDB",
                        "property_type": "HDB",
                        "district": f"D{district}",
                        "total_floor_area": str(int(sqm * 10.764)),
                        "top": str(int(rng.integers(1975, 2020))),
                        "furnishing": FURNISH[rng.integers(0, 3)],
                        "tenure": "99-year Leasehold",
                        "floor": "High Floor",
                        "post_code": post,
                        "street_name": street.upper(),
                        "description": "Bright unit near MRT \U0001F600 call now",
                        "facilities": "Pool,Gym,BBQ Pit",
                    }
                    for f in list(rng.choice(PN_BLANKABLE, n_blank,
                                             replace=False)):
                        row[f] = "None" if rng.random() < 0.5 else ""
                    pn_rows.append(row)
                else:
                    row = {
                        "url": url,
                        "location": location,
                        "floor_size_psf": "",
                        "price": f"${price:,}",
                        "num_bedroom": "", "num_bathroom": "",
                        "description": "Renovated ✨ corner unit",
                        "agent_name": f"Agenté {int(rng.integers(0, 500))}",
                        "agent_id": f"{agent} / {agency_id}",
                        "agent_phone_num": f"tel:{phone}",
                        "address": f"{location} ({post})",
                        "property_name": street.upper(),
                        "property_type": f"HDB {min(beds + 1, 5)} Rooms",
                        "model": FLAT_MODELS[rng.integers(0, len(FLAT_MODELS))],
                        "bedrooms": "4 bed" if bad_beds else
                        ("Studio" if beds == 1 else
                         f"{beds - 1}+1" if beds > 3 else str(beds)),
                        "bathrooms": str(max(1, beds - 1)),
                        "furnish": FURNISH[rng.integers(0, 2)],
                        "floor_level": "Mid",
                        "tenure": "99-year Leasehold",
                        "developer": "HDB",
                        "built_year": str(int(rng.integers(1975, 2020))),
                        "hdb_town": TOWNS[district - 1].title(),
                        "asking": "", "size": f"{'x' if bad_area else ''}{sqm} sqm",
                        "psf": f"${price // max(1, int(sqm * 10.764))} psf",
                        "tenancy_status": "Vacant", "date_listed": dkey,
                        "facilities": "Pool,Gym",
                        "train_stations": "NS16", "schools": "Primary",
                        "shopping_mall/markets": "Mall",
                    }
                    for f in list(rng.choice(SRX_BLANKABLE, n_blank,
                                             replace=False)):
                        row[f] = "None" if rng.random() < 0.5 else ""
                    srx_rows.append(row)
            ents[f"{location}|{price}"] = {
                "url": kept_url,
                "bedrooms": None if bad_beds else beds,
                "floor_area_sqm": None if bad_area else sqm,
                "district": district, "zone": zones[district],
                "region": regions[district]}
        # rows whose price cannot parse (or overflows int) never reach
        # the merged output: the (agent_id, location, price) filter
        # drops them
        for k in range(max(1, listings // 50)):
            row = dict(pn_rows[k % len(pn_rows)])
            row["url"] = next_url("pn")
            row["price"] = "Price on Ask" if k % 2 == 0 else "$99,999,999,999"
            pn_rows.append(row)
        pn_order = rng.permutation(len(pn_rows))
        srx_order = rng.permutation(len(srx_rows))
        ddir = f"{out}/day={dkey}"
        _split_write_json([pn_rows[i] for i in pn_order], f"{ddir}/propnex",
                          "propnex", files)
        _split_write_json([srx_rows[i] for i in srx_order], f"{ddir}/srx",
                          "srx", files)
        truth["days"].append(dkey)
        truth["entities"][dkey] = ents

    # resale transactions: months 2019-01 .. +months-1, per-day snapshots
    month_keys = [f"{2019 + m // 12}-{m % 12 + 1:02d}" for m in range(months)]
    per_month = []
    for mk in month_keys:
        n = int(rng.integers(60, 120))
        towns = rng.integers(0, len(TOWNS), n)
        prices = rng.integers(200, 1200, n) * 1000
        bad = rng.random(n) < 0.03
        lines = []
        for i in range(n):
            lines.append(",".join([
                mk, TOWNS[towns[i]],
                FLAT_TYPES[rng.integers(0, len(FLAT_TYPES))],
                str(int(rng.integers(1, 999))),
                STREETS[rng.integers(0, len(STREETS))].upper(),
                f"{int(rng.integers(0, 15)) * 3 + 1:02d} TO "
                f"{int(rng.integers(0, 15)) * 3 + 3:02d}",
                str(int(rng.integers(35, 160))),
                FLAT_MODELS[rng.integers(0, len(FLAT_MODELS))],
                str(int(rng.integers(1970, 2019))),
                "na" if bad[i] else str(int(prices[i]))]))
        per_month.append(lines)
        truth["months"][mk + "-01"] = {
            "count": n, "null_price": int(bad.sum()),
            "price_sum": int(prices[~bad].sum())}
    for di, day in enumerate(run_dates):
        upto = months - days + di + 1
        hdir = f"{out}/day={day.isoformat()}/historical"
        os.makedirs(hdir, exist_ok=True)
        # one file per calendar year, like the data.gov.sg period files
        by_year = {}
        for m in range(upto):
            by_year.setdefault(month_keys[m][:4], []).extend(per_month[m])
        for y, lines in by_year.items():
            with open(f"{hdir}/resale-{y}.csv", "w", encoding="utf-8") as f:
                f.write(CSV_HEADER + "\n" + "\n".join(lines) + "\n")
    truth["batches"] = [d.isoformat() for d in run_dates] + \
        [run_dates[0].isoformat()]
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f)

