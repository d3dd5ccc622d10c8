"""Seeded inputs for the benchmark. The program only ever sees these files.

star(): the star schema the SparkEntry queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings),
with the column names, types, cardinalities and value domains of the
repository's sf0.1 test data at `sf` = 0.1. Every table is written as one
parquet row group in an order shuffled by the seed; `events.ts` is a naive
microsecond timestamp, one of the two encodings `Tables.events` accepts.

transit(): a synthetic network shaped like Bandung's, in the input formats
the GTFS pipeline reads (routes.json, per-relation stops/ways GeoJSON,
pivoted schedule matrices, pass-through fare and transfer tables), plus a
list of journey requests.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
DAY_US = 86_400_000_000


def _write(out, name, cols, rng):
    """Write one table as a single row group, rows in a seeded order."""
    table = pa.table(cols)
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))
    return table.num_rows


def _days(rng, lo_days, hi_days, n):
    """Midnight timestamps (µs since epoch) uniform in [lo, hi] days."""
    d = rng.integers(lo_days, hi_days + 1, n)
    return pa.array(d * DAY_US, pa.timestamp("us"))


def star(out, seed, sf=0.1):
    """Write the star schema at scale factor `sf`; returns row counts."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    k = sf / 0.1
    n_cust, n_supp, n_part = (round(n * k) for n in (15000, 1000, 20000))
    n_ord, n_line = round(150000 * k), round(600000 * k)
    n_ev, n_doc, n_emb = (round(n * k) for n in (100000, 5000, 2000))
    d1995 = 9131  # 1995-01-01 in days since the epoch
    counts = {}
    i32, i64 = pa.int32(), pa.int64()

    counts["region"] = _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS}, rng)
    counts["nation"] = _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}, rng)
    counts["customer"] = _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}, rng)
    counts["supplier"] = _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}, rng)
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    counts["part"] = _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 1),
    }, rng)
    counts["orders"] = _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _days(rng, d1995, d1995 + 2404, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }, rng)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    counts["lineitem"] = _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, d1995 + 1, d1995 + 2499, n_line),
    }, rng)
    t0 = 19723 * DAY_US  # 2024-01-01
    ts = np.sort(t0 + rng.integers(0, 30 * DAY_US, n_ev))
    counts["events"] = _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, round(1500 * k)), n_ev), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)],
    }, rng)
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            # a near duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[
                rng.integers(0, len(WORDS), rng.integers(10, 101))]))
    counts["documents"] = _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    }, rng)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    counts["embeddings"] = _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    }, rng)
    return counts


CENTER = (107.61, -6.91)  # Bandung
AGENCIES = [  # (agencyId, name, mode, route groups, group id prefix)
    ("KCI", "KAI Commuter", "train", 2, ""),
    ("MJT", "Metro Jabar Trans", "bus", 10, "M"),
    ("TMB", "Trans Metro Bandung", "bus", 8, "T"),
    ("AKB", "Angkot Kota Bandung", "angkot", 20, "A"),
    ("AKC", "Angkot Cimahi", "angkot", 17, "C"),
]
EXTRA_VARIANTS = 12  # groups with a third route: 57 groups, 126 directions
TRAIN_STATIONS = 30
TRAIN_TRIPS = 22  # rows per schedule matrix


def _hhmm(sec):
    return f"{sec // 3600:02d}:{sec // 60 % 60:02d}"


def _hhmmss(sec):
    return f"{sec // 3600:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}"


def transit(out, seed, trips_scale=1.0, shape_scale=1.0, n_requests=4):
    """Write the feed (`out`/feed) and the journey requests
    (`out`/requests.txt). Returns a summary of the sizes.

    The network has the reference's shape: 5 agencies, 57 route groups,
    126 directions, about 1.7k stops of which about 1k are angkot virtual
    stops. `trips_scale` and `shape_scale` scale its trips (about 8.2k at
    1.0) and shape points (about 70k at 1.0)."""
    rng = np.random.default_rng([seed, 2])
    # the layout (stop sites, route paths, footpaths) and the journeys'
    # origin-destination pairs are one fixed city, as Bandung's are: a seed
    # draws the timetables and departure times, so every seed asks the
    # journey planner for fixpoints and legs of about the same depth
    topo = np.random.default_rng(2)
    feed_dir = os.path.join(out, "feed")
    geo = os.path.join(feed_dir, "route-data", "geojson")
    sched = os.path.join(feed_dir, "route-data", "schedule")
    gtfs = os.path.join(feed_dir, "gtfs")
    for d in (geo, sched, gtfs):
        os.makedirs(d, exist_ok=True)

    # real stop sites on a jittered grid around the city centre
    nx, ny = 36, 30
    gx, gy = np.meshgrid(np.arange(nx), np.arange(ny), indexing="ij")
    lon = CENTER[0] - 0.2 + gx * 0.011 + topo.uniform(-0.003, 0.003, gx.shape)
    lat = CENTER[1] - 0.16 + gy * 0.011 + topo.uniform(-0.003, 0.003, gy.shape)
    site_id = 1_000_000_000 + topo.permutation(nx * ny).reshape(nx, ny) * 7919

    def site(ix, iy):
        return (str(site_id[ix, iy]), f"Halte {ix}-{iy}",
                round(float(lon[ix, iy]), 7), round(float(lat[ix, iy]), 7))

    def walk(n):
        """A self-avoiding random walk of `n` grid sites."""
        while True:
            ix, iy = int(topo.integers(2, nx - 2)), int(topo.integers(2, ny - 2))
            path, seen = [(ix, iy)], {(ix, iy)}
            heading = int(topo.integers(0, 4))
            moves = [(1, 0), (0, 1), (-1, 0), (0, -1)]
            for _ in range(n - 1):
                if topo.random() < 0.3:
                    heading = (heading + int(topo.choice([-1, 1]))) % 4
                for turn in (0, 1, -1, 2):
                    dx, dy = moves[(heading + turn) % 4]
                    nxt = (path[-1][0] + dx, path[-1][1] + dy)
                    if 0 <= nxt[0] < nx and 0 <= nxt[1] < ny and nxt not in seen:
                        break
                else:
                    break
                path.append(nxt)
                seen.add(nxt)
            if len(path) == n:
                return path

    def shape(points, n_pts):
        """Dense polyline through `points`, about `n_pts` vertices."""
        per = max(2, n_pts // max(1, len(points) - 1))
        coords = []
        for (x0, y0), (x1, y1) in zip(points, points[1:]):
            for t in np.arange(per) / per:
                coords.append([round(x0 + (x1 - x0) * t, 7),
                               round(y0 + (y1 - y0) * t, 7)])
        coords.append([points[-1][0], points[-1][1]])
        return coords

    def write_geo(rel, coords, stops, multi):
        d = os.path.join(geo, rel)
        os.makedirs(d, exist_ok=True)
        if multi:
            half = len(coords) // 2
            geom = {"type": "MultiLineString",
                    "coordinates": [coords[:half + 1], coords[half:]]}
        else:
            geom = {"type": "LineString", "coordinates": coords}
        with open(os.path.join(d, "ways.geojson"), "w") as f:
            json.dump({"type": "FeatureCollection", "features": [{
                "type": "Feature", "geometry": geom,
                "properties": {"id": int(rel) * 3, "relationId": rel}}]}, f)
        with open(os.path.join(d, "stops.geojson"), "w") as f:
            json.dump({"type": "FeatureCollection", "features": [{
                "type": "Feature",
                "geometry": {"type": "Point", "coordinates": [s_lon, s_lat]},
                "properties": props} for s_lon, s_lat, props in stops]}, f)

    categories, used_real, virtual = [], set(), set()
    served = {}  # real stop -> routes calling at it
    # sizes depend on the group and route index only, never on the seed
    n_groups = sum(a[3] for a in AGENCIES)
    variants = set(range(3, n_groups, n_groups // EXTRA_VARIANTS)[:EXTRA_VARIANTS])
    rel_next = 16_000_000
    g_index, rel_idx, train_rels = 0, 0, {0: [], 1: []}
    total_trips, shape_pts = 0, 0
    for agency, name, mode, n_g, prefix in AGENCIES:
        groups = []
        for g in range(n_g):
            gid = (["B", "C"][g] if mode == "train"
                   else f"{prefix}{g + 1:02d}")
            loop = "yes" if (mode != "train" and g % 5 == 2) else "no"
            if mode == "train":
                # line C calls at every other station of line B's middle
                path = walk(TRAIN_STATIONS) if g == 0 else line_b[3:27:2]
                line_b = path
            else:
                path = walk(20 + g * 7 % 12 if mode == "bus"
                            else 14 + g * 5 % 9)
            dirs = [path, path[::-1]]
            if g_index in variants:
                dirs.append(path[: max(4, len(path) * 2 // 3)])
            routes = []
            for k, p in enumerate(dirs):
                rel_idx += 1
                rel = str(rel_next)
                rel_next += int(rng.integers(1, 5000))
                direction = k % 2
                sites = [site(*q) for q in p]
                pts = [(s[2], s[3]) for s in sites]
                coords = shape(pts, round((480 + rel_idx * 37 % 160) * shape_scale))
                shape_pts += len(coords)
                stops = []
                for i, (sid, sname, s_lon, s_lat) in enumerate(sites):
                    used_real.add(sid)
                    served[sid] = served.get(sid, 0) + 1
                    if mode == "angkot":
                        stops.append((s_lon, s_lat, {
                            "id": sid, "name": sname, "role": "stop",
                            "isReal": True, "mode": "angkot"}))
                        if i + 1 < len(sites):
                            n_lon, n_lat = sites[i + 1][2], sites[i + 1][3]
                            for t in (1 / 3, 2 / 3):
                                v_lon = s_lon + (n_lon - s_lon) * t
                                v_lat = s_lat + (n_lat - s_lat) * t
                                vid = f"virtual_{v_lon:.4f}_{v_lat:.4f}"
                                virtual.add(vid)
                                stops.append((round(v_lon, 7), round(v_lat, 7), {
                                    "id": vid, "name": "", "role": "virtual",
                                    "isReal": False, "mode": "angkot"}))
                    else:
                        stops.append((s_lon, s_lat, {
                            "id": sid, "name": sname, "role": "stop",
                            "wheelchair": "yes" if i % 3 == 0 else "no"}))
                write_geo(rel, coords, stops, multi=(g_index % 9 == 4))
                if mode == "train":
                    train_rels[direction].append((rel, g, [s[0] for s in sites]))
                    n_trips = 0
                else:
                    n_trips = max(2, round((40 + rel_idx * 11 % 55) * trips_scale))
                    total_trips += n_trips
                first = int(rng.integers(16, 24)) * 900
                last = first + int(rng.integers(48, 68)) * 900
                routes.append({
                    "name": f"{sites[0][1]} → {sites[-1][1]}",
                    "directionId": direction, "relationId": rel,
                    "first_departure": _hhmm(first),
                    "last_departure": _hhmm(last),
                    "trips": str(n_trips if mode != "train" else TRAIN_TRIPS)})
            groups.append({
                "groupId": gid, "name": f"{name} {gid}",
                "color": "#%06X" % int(rng.integers(0, 1 << 24)),
                "type": "fixed", "loop": loop, "routes": routes})
            g_index += 1
        categories.append({
            "name": name, "agencyId": agency, "mode": mode,
            "agencyUrl": f"https://example.org/{agency.lower()}",
            "agencyTimezone": "Asia/Jakarta", "agencyLang": "id",
            "routeGroups": groups})

    # pivoted timetables, one per direction: every station of line B as a
    # column pair; line C rows leave the stations it skips blank, some
    # pairs give only one side, and late trips run past 24:00
    train_trips = 0
    for direction, rels in train_rels.items():
        stations = next(ids for _, g, ids in rels if g == 0)
        rows = []
        for rel, g, ids in rels:
            n = 14 if g == 0 else TRAIN_TRIPS - 14
            for t in range(n):
                dep = 4 * 3600 + t * (4800 if g == 0 else 7200) \
                    + int(rng.integers(0, 6)) * 60
                cells = ["", ""] * len(stations)
                on = set(ids)
                for j, sid in enumerate(stations):
                    if sid not in on:
                        continue
                    arr = dep
                    dep = arr + int(rng.integers(0, 3)) * 60
                    side = rng.random()
                    cells[2 * j] = "" if side < 0.1 else _hhmm(arr)
                    cells[2 * j + 1] = "" if 0.1 <= side < 0.2 else _hhmm(dep)
                    dep += int(rng.integers(3, 7)) * 60
                rows.append([rel, str(100 + 2 * t + direction)] + cells)
                train_trips += 1
        with open(os.path.join(sched, f"KCI_{direction}.csv"), "w") as f:
            f.write(",," + ",".join(s for s in stations for _ in (0, 1)) + "\n")
            f.write(",," + ",".join("A,D" for _ in stations) + "\n")
            for r in rows:
                f.write(",".join(r) + "\n")

    with open(os.path.join(feed_dir, "routes.json"), "w") as f:
        json.dump({"categories": categories}, f, indent=1, ensure_ascii=False)

    # hand-maintained pass-through tables: fares and footpath transfers
    real = sorted(used_real)
    with open(os.path.join(gtfs, "fare_attributes.txt"), "w") as f:
        f.write("fare_id,price,currency_type,payment_method,transfers\n")
        for i in range(7):
            f.write(f"F{i},{3000 + 1000 * i},IDR,0,0\n")
    groups_all = [(c["agencyId"], g["groupId"]) for c in categories
                  for g in c["routeGroups"]]
    with open(os.path.join(gtfs, "fare_rules.txt"), "w") as f:
        f.write("fare_id,route_id\n")
        for i, (_, gid) in enumerate(groups_all[:27]):
            f.write(f"F{i % 7},{gid}\n")
    by_id = {str(site_id[ix, iy]): (ix, iy) for ix in range(nx)
             for iy in range(ny)}
    pairs = []
    for sid in topo.permutation(real):
        ix, iy = by_id[sid]
        for dx, dy in ((1, 1), (1, -1)):
            other = (ix + dx, iy + dy)
            if 0 <= other[0] < nx and 0 <= other[1] < ny:
                oid = str(site_id[other])
                if oid in used_real and len(pairs) < 33:
                    pairs.append((sid, oid))
        if len(pairs) >= 33:
            break
    with open(os.path.join(gtfs, "transfers.txt"), "w") as f:
        f.write("from_stop_id,to_stop_id,transfer_type,min_transfer_time\n")
        for s, o in pairs:
            f.write(f"{s},{o},2,{int(rng.integers(2, 11)) * 60}\n")

    # journeys start at the best-served stops
    hubs = sorted(real, key=lambda s: (-served[s], s))
    with open(os.path.join(out, "requests.txt"), "w") as f:
        for o in hubs[:n_requests]:
            d = hubs[n_requests + int(topo.integers(0, 100))]
            t = int(rng.integers(7 * 3600, 9 * 3600))
            f.write(f"{o},{_hhmmss(t)},{d}\n")
    return {"agencies": len(AGENCIES), "groups": n_groups,
            "directions": sum(len(g["routes"]) for c in categories
                              for g in c["routeGroups"]),
            "stops": len(used_real) + len(virtual),
            "virtual_stops": len(virtual),
            "trips": total_trips + train_trips, "shape_points": shape_pts,
            "requests": n_requests}
