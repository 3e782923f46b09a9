"""Seeded generator of wire-format taxi trips for the streaming workloads.

The same (seed, events, mean gap) always yields byte-identical output.
Trips are written in event-time (dropoff) order, except for a jitter
that moves an event at most MAX_JITTER_MS earlier than its slot. The
jitter is strictly inside the app's 10 s watermark delay, so no event
can arrive behind the watermark. Pickup cells are Zipf-skewed over NYC
geohash-6 cells, about 30% of dropoffs land at JFK or LGA, and a small
share of trips carries invalid coordinates or leaves the NYC fence, so
the app's validity and fence filters have work to do.
"""
import functools
import os
import random
import time

B32 = "0123456789bcdefghjkmnpqrstuvwxyz"
MAX_JITTER_MS = 8000
BASE_MS = 1451606400000  # 2016-01-01T00:00:00Z
TRIP_ID_BASE = 1000000  # trip i of a file has id TRIP_ID_BASE + i
AIRPORT_SHARE = 0.30
INVALID_SHARE = 0.01
OUT_OF_FENCE_SHARE = 0.02
PICKUP_CELLS = 512
ZIPF_S = 1.1


@functools.lru_cache(maxsize=None)
def bbox(cell):
    """(lat_lo, lat_hi, lon_lo, lon_hi) of a geohash cell."""
    lat, lon, even = [-90.0, 90.0], [-180.0, 180.0], True
    for c in cell:
        bits = B32.index(c)
        for mask in (16, 8, 4, 2, 1):
            r = lon if even else lat
            mid = (r[0] + r[1]) / 2
            if bits & mask:
                r[0] = mid
            else:
                r[1] = mid
            even = not even
    return lat[0], lat[1], lon[0], lon[1]


def encode(lat, lon, precision):
    la, lo, even, out, bits, n = [-90.0, 90.0], [-180.0, 180.0], True, [], 0, 0
    while len(out) < precision:
        r, v = (lo, lon) if even else (la, lat)
        mid = (r[0] + r[1]) / 2
        bits <<= 1
        if v >= mid:
            bits |= 1
            r[0] = mid
        else:
            r[1] = mid
        even = not even
        n += 1
        if n == 5:
            out.append(B32[bits])
            bits, n = 0, 0
    return "".join(out)


def neighbors8(cell):
    a, b, c, d = bbox(cell)
    h, w = b - a, d - c
    clat, clon = (a + b) / 2, (c + d) / 2
    return [encode(clat + dy * h, clon + dx * w, len(cell))
            for dy in (-1, 0, 1) for dx in (-1, 0, 1) if (dy, dx) != (0, 0)]


NYC = neighbors8("dr72")
JFK = neighbors8("dr5x0z")
LGA = ["dr5ryy", "dr5rzn"] + neighbors8("dr5rzjx")


def point_in(rng, cell):
    """A point well inside `cell` (5% margin), so rounding to 6
    decimals cannot move it to a neighbour."""
    a, b, c, d = bbox(cell)
    mh, mw = (b - a) * 0.05, (d - c) * 0.05
    return rng.uniform(a + mh, b - mh), rng.uniform(c + mw, d - mw)


def iso(ms):
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(ms // 1000)) + \
        ".%03dZ" % (ms % 1000)


def generate(seed, events, mean_gap_ms):
    """Return [(line, dropoff_ms, valid)] in file order; `valid` is
    whether the trip passes the app's coordinate and NYC-fence filters."""
    rng = random.Random(seed)
    children = [p + c for p in NYC for c in B32]
    cells = rng.sample([p + c for p in children for c in B32], PICKUP_CELLS)
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(cells))]
    cum = []
    acc = 0.0
    for w in weights:
        acc += w
        cum.append(acc)
    out = []
    nominal = BASE_MS
    for i in range(events):
        nominal += max(1, int(rng.expovariate(1.0 / mean_gap_ms)))
        dropoff = nominal - rng.randrange(MAX_JITTER_MS)
        plat, plon = point_in(rng, rng.choices(cells, cum_weights=cum)[0])
        u = rng.random()
        if u < AIRPORT_SHARE:
            fence = JFK if rng.random() < 0.6 else LGA
            dlat, dlon = point_in(rng, rng.choice(fence))
            duration = rng.randrange(20 * 60000, 60 * 60000)
        else:
            dlat, dlon = point_in(rng, rng.choices(cells, cum_weights=cum)[0])
            if rng.random() < 0.02:
                duration = rng.randrange(20000, 60000)
            else:
                duration = min(90 * 60000, int(60000 * rng.lognormvariate(2.3, 0.5)))
        valid = True
        v = rng.random()
        if v < INVALID_SHARE:
            plat, plon = (91.5, plon) if rng.random() < 0.5 else (plat, -181.25)
            valid = False
        elif v < INVALID_SHARE + OUT_OF_FENCE_SHARE:
            dlat, dlon = 39.9526 + rng.uniform(-0.05, 0.05), -75.1652
            valid = False
        amount = round(2.5 + duration / 60000 * 2.1 + rng.uniform(0, 5), 2)
        line = ('{"type": "trip", "trip_id": %d, "pickup_datetime": "%s", '
                '"dropoff_datetime": "%s", "pickup_lat": %.6f, '
                '"pickup_lon": %.6f, "dropoff_lat": %.6f, "dropoff_lon": %.6f, '
                '"total_amount": %.2f}') % (
            TRIP_ID_BASE + i, iso(dropoff - duration), iso(dropoff),
            plat, plon, dlat, dlon, amount)
        out.append((line, dropoff, valid))
    return out


def write(trips, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "trips-00000.jsonl"), "w") as f:
        for line, _, _ in trips:
            f.write(line)
            f.write("\n")

