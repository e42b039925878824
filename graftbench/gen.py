"""Seeded Vélib input generator with an expected-results ledger.

Builds GBFS ``station_status`` bodies of 1,474 stations (the reference's
hourly volume) that match ``graft.model.Schemas.velibRaw``, one
OpenWeatherMap body per hour, and the backfill's raw zone. From its own
bookkeeping, with no engine involved, it computes the expected row counts
and an order-insensitive digest of three outputs:

* the hourly curated rows (``Pipeline.runAll``: dedup within one hour);
* the backfill curated rows (``Velib.dedupSnapshots`` across a slice);
* the stream output (``Streams.dedupedStationUpdates``: first report of a
  key wins, 2-hour watermark). Every key first arrives fresh, within
  15 minutes of its snapshot, so it is never late; a late row is always
  the repeat of a key already emitted. The output is therefore one row
  per distinct key, whichever rows the watermark drops.

Shares (fixed, not seeded), from the only station data in the
repository, ``fixtures/station_status.json``: two consecutive hourly
snapshots of three stations (SURVEY.md 2.10, FIXTURES.md 5). Six reports,
so the shares are weakly grounded:

* ``STALE_SHARE``: in the fixture one station of three re-reports its
  previous record unchanged in the next snapshot. Each hour every station
  stays silent with this probability, independently of earlier hours, and
  its last record re-appears unchanged. Silences therefore run for several
  hours now and then (three or more hours running: 1 in 27), and such a
  repeat is older than the stream's 2-hour watermark when it arrives, so
  the late-drop path of ``dropDuplicatesWithinWatermark`` runs.
* ``FRESH_AGE_S``: a fresh report is 300-900 s old at snapshot time (the
  fixture's fresh reports are 300, 600, 600 and 900 s old; its stale one
  4,500 s).
* ``DUP_SHARE``: an unverified assumption, with no data behind it. This
  share of the fresh reports is listed twice in one body, under the same
  ``last_reported`` but with a different dock count (the backend updating a
  count without bumping the report time). Without it the within-hour dedup
  of ``Pipeline.runAll`` would have no work. The dedup survivor is the
  greatest attribute tuple; the stream keeps one row per key.

Row digest: ``int(md5("sid|bikes|docks|installed|returning|renting|epoch")
[:15], 16)``, summed over rows. Stream digest: the same over
``"sid|epoch"`` (which duplicate the stream keeps is arrival order, so
only the key is pinned).
"""
import hashlib
import json
import os
import random
import time

STATIONS = 1474
STALE_SHARE = 1 / 3
FRESH_AGE_S = (300, 900)
DUP_SHARE = 0.01
BASE_EPOCH = 1706745600  # 2024-02-01T00:00:00Z
HOUR = 3600


def row_digest(sid, bikes, docks, inst, ret, rent, lr):
    s = f"{sid}|{bikes}|{docks}|{inst}|{ret}|{rent}|{lr}"
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def key_digest(sid, lr):
    return int(hashlib.md5(f"{sid}|{lr}".encode()).hexdigest()[:15], 16)


def snapshot_epoch(h):
    """Snapshot time of hour ``h`` (0-based): the end of that hour."""
    return BASE_EPOCH + HOUR * (h + 1)


class Feed:
    """Station states evolving hour by hour from one seed."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        rng = self.rng
        ids = set()
        while len(ids) < STATIONS:
            # observed ids run past 2^31 (Schemas.velibRaw keeps LongType)
            ids.add(rng.randrange(10**8, 2 * 10**10))
        self.ids = sorted(ids)
        self.codes = {sid: str(rng.randrange(1000, 99999)) for sid in self.ids}
        self.capacity = {sid: rng.randrange(12, 70) for sid in self.ids}
        self.state = {}        # sid -> record tuple of the last report
        self.h = 0

    def next_hour(self):
        """Station entries of the next hour's body, as record tuples
        ``(sid, bikes, mech, ebike, docks, inst, ret, rent, lr)``; the
        in-body duplicates are appended at the end."""
        # rng.random() scaled, not randrange: a third of the generator's
        # time went into randrange's argument checks
        rnd, t = self.rng.random, snapshot_epoch(self.h)
        lo, hi = FRESH_AGE_S
        entries, dups = [], []
        for sid in self.ids:
            if sid in self.state and rnd() < STALE_SHARE:
                entries.append(self.state[sid])
                continue
            cap = self.capacity[sid]
            bikes = int(rnd() * (cap + 1))
            mech = int(rnd() * (bikes + 1))
            docks = cap - bikes
            inst = 1 if rnd() < 0.98 else 0
            rec = (sid, bikes, mech, bikes - mech, docks, inst, inst,
                   inst, t - lo - int(rnd() * (hi - lo + 1)))
            self.state[sid] = rec
            entries.append(rec)
            if rnd() < DUP_SHARE:
                delta = (1 if rnd() < 0.5 else -1) if docks > 0 else 1
                dups.append(rec[:4] + (docks + delta,) + rec[5:])
        self.h += 1
        return entries + dups


def velib_body(entries, t, codes):
    parts = []
    for sid, bikes, mech, ebike, docks, inst, ret, rent, lr in entries:
        parts.append(
            f'{{"station_id":{sid},"num_bikes_available":{bikes},'
            f'"numBikesAvailable":{bikes},"num_bikes_available_types":'
            f'[{{"mechanical":{mech}}},{{"ebike":{ebike}}}],'
            f'"num_docks_available":{docks},"numDocksAvailable":{docks},'
            f'"is_installed":{inst},"is_returning":{ret},'
            f'"is_renting":{rent},"last_reported":{lr},'
            f'"stationCode":"{codes[sid]}"}}')
    return ('{"lastUpdatedOther":%d,"ttl":3600,"data":{"stations":[%s]}}'
            % (t, ",".join(parts)))


def weather_body(rng, t):
    temp = round(rng.uniform(265.0, 300.0), 2)
    return json.dumps({
        "lat": 48.8534, "lon": 2.3488, "timezone": "Europe/Paris",
        "current": {
            "dt": t, "sunrise": t - 20000, "sunset": t + 20000,
            "temp": temp, "feels_like": round(temp - 1.5, 2),
            "pressure": rng.randrange(990, 1030),
            "humidity": rng.randrange(30, 100),
            "dew_point": round(temp - 5.0, 2), "uvi": 0.5,
            "clouds": rng.randrange(0, 100), "visibility": 10000,
            "wind_speed": round(rng.uniform(0.0, 12.0), 2),
            "wind_deg": rng.randrange(0, 360),
            "weather": [{"id": 800, "main": "Clear",
                         "description": "clear sky", "icon": "01d"}]}},
        separators=(",", ":"))


def survivors(entries):
    """Dedup survivor per (sid, lr): the greatest curated attribute tuple
    (bikes, docks, installed, returning, renting), as Velib.dedupSnapshots
    picks it."""
    best = {}
    for rec in entries:
        key = (rec[0], rec[8])
        attrs = (rec[1], rec[4], rec[5], rec[6], rec[7])
        if key not in best or attrs > best[key]:
            best[key] = attrs
    return best


def digest_of(best):
    return sum(row_digest(sid, *attrs, lr) for (sid, lr), attrs in best.items())


def write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def generate_hourly(out, seed, hours):
    """One velib and one weather body per hour, and the ledger."""
    feed = Feed(seed)
    wrng = random.Random(seed ^ 0x5EED)
    ledger, seen_keys, stream_digest = [], set(), 0
    pairs, stations = set(), set()
    for h in range(hours):
        t = snapshot_epoch(h)
        entries = feed.next_hour()
        write(f"{out}/velib/hour_{h:04d}.json", velib_body(entries, t, feed.codes))
        write(f"{out}/weather/hour_{h:04d}.json", weather_body(wrng, t))
        best = survivors(entries)
        for sid, lr in best:
            if (sid, lr) not in seen_keys:
                seen_keys.add((sid, lr))
                stream_digest += key_digest(sid, lr)
            pairs.add((lr // HOUR, sid))
            stations.add(sid)
        ledger.append({
            "hour": h, "snapshot_epoch": t,
            "raw_rows": len(entries), "curated_rows": len(best),
            "curated_digest": str(digest_of(best)),
            "stream_rows_cum": len(seen_keys),
            "stream_digest_cum": str(stream_digest),
            "hourly_groups_cum": len(pairs),
            "stations_cum": len(stations)})
    ledger_doc = {"seed": seed, "hours": ledger}
    write(f"{out}/ledger.json", json.dumps(ledger_doc, indent=1))
    return ledger_doc


def generate_backfill(out, seed, hours, per_file):
    """Raw zone of ``hours`` snapshots as JSON lines, ``per_file`` per
    file, and the ledger of the whole slice deduped across hours: the
    curated rows, the stream's keys (the slice in one stream run) and the
    curated rows of the day the load step reloads."""
    feed = Feed(seed)
    every, raw_rows, lines, part = [], 0, [], 0
    for h in range(hours):
        entries = feed.next_hour()
        raw_rows += len(entries)
        every.extend(entries)
        lines.append(velib_body(entries, snapshot_epoch(h), feed.codes))
        if len(lines) == per_file or h == hours - 1:
            write(f"{out}/raw/part-{part:04d}.json", "\n".join(lines) + "\n")
            lines, part = [], part + 1
    best = survivors(every)
    # the day the load step reloads: the UTC date of the middle snapshot
    load_day = time.strftime("%Y-%m-%d", time.gmtime(snapshot_epoch(hours // 2)))
    ledger_doc = {"seed": seed, "slice_hours": hours,
                  "raw_rows": raw_rows, "curated_rows": len(best),
                  "curated_digest": str(digest_of(best)),
                  "stream_digest": str(sum(key_digest(sid, lr) for sid, lr in best)),
                  "load_day": load_day,
                  "load_day_rows": sum(
                      1 for _, lr in best
                      if time.strftime("%Y-%m-%d", time.gmtime(lr)) == load_day),
                  "hourly_groups": len({(lr // HOUR, sid) for sid, lr in best}),
                  "stations": len({sid for sid, _ in best})}
    write(f"{out}/ledger.json", json.dumps(ledger_doc, indent=1))
    return ledger_doc
