"""Output checks the benchmark runs on the program's results.

oracle(): each query's warm-up result against the DuckDB oracle SQL that
SparkEntry.oracleSql carries, over the same generated parquet tables.
Columns are compared by name, values in order; a query without oracle SQL
(q15, sketch-based) is checked on having rows at all.

earliest_arrival(): a serial connection scan over a published GTFS feed,
the reference the engine's earliest-arrival labels must equal.
"""
import csv
import glob
import heapq
import json
import os

import duckdb
import pandas as pd


def _canon(df):
    return df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)


def _equal(a, b):
    if a.shape != b.shape or list(a.columns) != list(b.columns):
        return False
    for c in a.columns:
        if a[c].equals(b[c]):
            continue
        norm = [s.astype(object).where(pd.notna(s), None).tolist()
                for s in (a[c], b[c])]
        if norm[0] != norm[1]:
            return False
    return True


def oracle(data_dir, results_dir, names, sql_by_name):
    """Returns {name: None if the result matches, else a reason}."""
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name in names:
        files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
        if not files:
            out[name] = "no result written"
            continue
        got = _canon(pd.concat([pd.read_parquet(f) for f in files]))
        if name not in sql_by_name:
            out[name] = None if len(got) else "empty result (rows-only check)"
            continue
        try:
            want = _canon(con.sql(sql_by_name[name]).df())
        except Exception as e:  # the oracle itself must run
            out[name] = f"oracle SQL failed: {type(e).__name__}: {e}"
            continue
        out[name] = None if _equal(got, want) else (
            f"differs from oracle: got {got.shape}, want {want.shape}")
    con.close()
    return out


def seconds(t):
    h, m, s = t.split(":")
    return int(h) * 3600 + int(m) * 60 + int(s)


def load_feed(feed_dir):
    """Connections (dep, arr, trip, from, to) and footpaths of a feed."""
    trips = {}
    with open(os.path.join(feed_dir, "stop_times.txt"), newline="") as f:
        for r in csv.DictReader(f):
            trips.setdefault(r["trip_id"], []).append(
                (int(r["stop_sequence"]), r["stop_id"],
                 seconds(r["arrival_time"]), seconds(r["departure_time"])))
    conns = []
    for trip, st in trips.items():
        st.sort()
        for (_, a, _, dep), (_, b, arr, _) in zip(st, st[1:]):
            conns.append((dep, arr, trip, a, b))
    conns.sort()
    foot = {}
    with open(os.path.join(feed_dir, "transfers.txt"), newline="") as f:
        for r in csv.DictReader(f):
            foot.setdefault(r["from_stop_id"], []).append(
                (r["to_stop_id"], int(r["min_transfer_time"])))
    return conns, foot


def earliest_arrival(feed, source, dep_time):
    """Earliest arrival at every reachable stop, boarding at the same stop
    with zero slack and walking footpaths transitively. Every connection
    takes positive time, so one scan in departure order is exact."""
    conns, foot = feed
    label = {}

    def relax(stop, t):
        heap = [(t, stop)]
        while heap:
            t, s = heapq.heappop(heap)
            if t >= label.get(s, float("inf")):
                continue
            label[s] = t
            for to, mtt in foot.get(s, ()):
                heapq.heappush(heap, (t + mtt, to))

    relax(source, dep_time)
    on = set()
    for dep, arr, trip, a, b in conns:
        if dep < dep_time:
            continue
        if trip in on or label.get(a, float("inf")) <= dep:
            on.add(trip)
            if arr < label.get(b, float("inf")):
                relax(b, arr)
    return label


def journey(labels_file, legs_file, feed, source, dep_time, dest):
    """None if the engine's labels equal the connection scan and its legs
    form a journey source -> dest arriving at the scan's label; else why."""
    want = earliest_arrival(feed, source, dep_time)
    got = {}
    with open(labels_file) as f:
        for line in f:
            stop, t = line.strip().rsplit(",", 1)
            got[stop] = int(t)
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))[:3]
        return (f"labels differ from the connection scan on "
                f"{len(set(got.items()) ^ set(want.items()))} entries, "
                f"e.g. {diff}")
    with open(legs_file) as f:
        legs = [line.strip().split(",") for line in f if line.strip()]
    if dest not in want or dest == source:
        return None if not legs else "legs returned for an unreachable stop"
    # leg_seq, kind, from_stop, to_stop, trip, dep_t, arr_t
    legs.sort(key=lambda r: int(r[0]))
    if not legs or legs[0][2] != source or legs[-1][3] != dest:
        return "legs do not lead from source to destination"
    if int(legs[-1][6]) != want[dest]:
        return "last leg does not arrive at the earliest arrival time"
    for a, b in zip(legs, legs[1:]):
        if a[3] != b[2] or int(b[5]) < int(a[6]):
            return "legs are not a connected journey"
    return None


def read_json(path):
    with open(path) as f:
        return json.load(f)
