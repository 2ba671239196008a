"""Seeded robot-vacuum telemetry and its answer key.

Everything here is a pure function of the seed and the fleet spec: the same
seed yields byte-identical drops, and the expected tables are computed from
the same per-device state machine that produced the samples, never from the
program under test.

Each device cycles charging -> cleaning -> idle -> charging, about one
cleaning a day. A hot 1% of devices samples ten times as often. Samples are
shuffled within a drop (drops themselves are in time order) and about 1% of
the lines in a drop are malformed, for the landing reader's quarantine.
"""

import dataclasses
import datetime
import random

EPOCH_MS = 1767571200000  # 2026-01-05T00:00:00Z
DAY_S = 86400
CLEANING_STATES = ("cleaning", "segment_cleaning", "zone_cleaning", "spot_cleaning")
FAN = ("quiet", "balanced", "turbo", "max")
MOP = ("standard", "deep", "deep_plus")


@dataclasses.dataclass(frozen=True)
class Fleet:
    devices: int
    sample_s: int   # base sampling interval; hot devices sample 10x as often
    drop_s: int     # simulated time covered by one drop
    drops: int


@dataclasses.dataclass
class Session:
    device: str
    start_ms: int       # first cleaning sample
    end_ms: int         # first idle sample after the cleaning phase
    battery_start: int
    battery_end: int
    fan: str
    water: str
    mop: str
    error: object       # int or None, carried by the end sample
    area_cm2: int
    drop: int           # index of the drop holding the end sample

    @property
    def clean_time_min(self):
        # The sessionizer's rounding: Math.round(ms / 1000.0 / 60.0 * 10) / 10.0.
        x = (self.end_ms - self.start_ms) / 1000.0 / 60.0 * 10
        return float(int(x + 0.5)) / 10.0

    @property
    def clean_time_s(self):
        # Device-reported lifetime counter: whole 6 s units, so /60 is exact to 1 dp.
        return (self.end_ms - self.start_ms) // 6000 * 6


@dataclasses.dataclass
class Telemetry:
    fleet: Fleet
    drops: list          # JSONL bytes per drop
    malformed: list      # malformed lines per drop
    samples: list        # well-formed lines per drop
    snapshots: list      # JSONL bytes per drop: one device snapshot at drop end
    sessions: list       # every Session whose end sample lies in some drop


def iso(ms):
    return datetime.datetime.fromtimestamp(ms / 1000, datetime.timezone.utc) \
        .strftime("%Y-%m-%dT%H:%M:%S.") + "%03dZ" % (ms % 1000)


def device_name(i):
    return "rr-%05d" % i


def _phases(rng, horizon_s):
    """Cleaning phases (start_s, end_s, idle_end_s) over the horizon."""
    out = []
    phase = rng.randrange(3600, 22 * 3600)
    day = 0
    while day * DAY_S < horizon_s:
        starts = []
        roll = rng.random()
        if roll >= 0.1:  # ~10% of days without a cleaning
            starts.append(day * DAY_S + phase + rng.randrange(-1800, 1800))
            if roll >= 0.9:  # ~10% with a second one six hours later
                starts.append(starts[0] + 6 * 3600)
        for s in starts:
            dur = rng.randrange(20 * 60, 90 * 60)
            idle = rng.randrange(12 * 60, 20 * 60)
            if not out or s >= out[-1][2] + 600:
                out.append((s, s + dur, s + dur + idle))
        day += 1
    return out


def generate(seed, fleet):
    # Every idle phase (>= 12 min) must hold a sample, or a session never ends.
    assert fleet.sample_s * 6 // 5 < 12 * 60
    rng = random.Random(seed)
    horizon_s = fleet.drops * fleet.drop_s
    n_hot = max(1, fleet.devices // 100)
    hot = set(rng.sample(range(fleet.devices), n_hot))
    lines = [[] for _ in range(fleet.drops)]
    sessions = []
    last = {}      # device -> (state, battery) of its last sample per drop
    names = [device_name(i) for i in range(fleet.devices)]
    for i, dev in enumerate(names):
        drng = random.Random("%d:%s" % (seed, dev))
        interval_ms = fleet.sample_s * 1000 // (10 if i in hot else 1)
        phases = _phases(drng, horizon_s)
        settings = [(drng.choice(FAN), str(drng.randrange(200, 204)), drng.choice(MOP),
                     drng.choice(CLEANING_STATES), drng.randrange(70, 101),
                     drng.uniform(0.3, 0.6), drng.randrange(10, 80) * 100 * 100,
                     drng.randrange(1, 4) if drng.random() < 0.05 else None)
                    for _ in phases]
        p = 0
        open_session = None
        t = drng.randrange(0, interval_ms)
        horizon_ms = horizon_s * 1000
        fan, water, mop = FAN[0], "200", MOP[0]
        while t < horizon_ms:
            ts = t + drng.randrange(0, interval_ms // 5)
            if ts >= horizon_ms:
                break
            sec = ts / 1000.0
            while p < len(phases) and sec >= phases[p][2]:
                p += 1
            err = None
            area = 0
            clean_s = 0
            if p < len(phases) and sec >= phases[p][0]:
                start, end, _ = phases[p]
                fan, water, mop, cstate, b0, drain, area_cm2, end_err = settings[p]
                if sec < end:
                    state = cstate
                    clean_s = int(sec - start)
                    battery = b0 - int((sec - start) / 60 * drain)
                    area = area_cm2 * clean_s // int(end - start)
                    if open_session is None:
                        open_session = Session(dev, EPOCH_MS + ts, 0, battery, 0, fan, water, mop,
                                               None, area_cm2, -1)
                else:
                    state = "idle"
                    battery = b0 - int((end - start) / 60 * drain)
                    if open_session is not None:
                        err = end_err
                        open_session.end_ms = EPOCH_MS + ts
                        open_session.battery_end = battery
                        open_session.error = err
                        open_session.drop = ts // (fleet.drop_s * 1000)
                        sessions.append(open_session)
                        open_session = None
            else:
                state, battery = "charging", 100
            k = ts // (fleet.drop_s * 1000)
            lines[k].append(
                '{"timestamp":"%s","device_name":"%s","state":"%s","battery":%d,'
                '"fan_power":"%s","water_box_status":"1","water_box_mode":"%s",'
                '"mop_mode":"%s","error_code":%s,"clean_time":%d,"clean_area":%d}'
                % (iso(EPOCH_MS + ts), dev, state, battery, fan, water, mop,
                   "null" if err is None else err, clean_s, area))
            last[(dev, k)] = (state, battery)
            t += interval_ms

    drops, malformed, samples = [], [], []
    for k, good in enumerate(lines):
        bad = []
        for _ in range(max(1, len(good) // 100)):
            src = good[rng.randrange(len(good))]
            if rng.random() < 0.5:
                bad.append(src[: rng.randrange(5, len(src) - 5)])  # truncated write
            else:
                bad.append("#### sensor reboot %d ####" % rng.randrange(1 << 30))
        body = good + bad
        rng.shuffle(body)
        drops.append(("\n".join(body) + "\n").encode())
        malformed.append(len(bad))
        samples.append(len(good))

    snapshots = []
    for k in range(fleet.drops):
        at_ms = EPOCH_MS + (k + 1) * fleet.drop_s * 1000
        done = {}
        for s in sessions:
            if s.drop <= k:
                done.setdefault(s.device, []).append(s)
        out = []
        for i, dev in enumerate(names):
            mine = done.get(dev, [])
            secs = sum(s.clean_time_s for s in mine)
            state, battery = "charging", 100
            for j in range(k, -1, -1):
                if (dev, j) in last:
                    state, battery = last[(dev, j)]
                    break
            # Older firmware reports the mop pad under its legacy attribute.
            mop_attr = "mop_work_time" if i % 7 == 0 else "cleaning_brush_work_time"
            out.append(
                '{"timestamp":"%s","device_name":"%s","clean_time":%d,"clean_area":%d,'
                '"clean_count":%d,"main_brush_work_time":%d,"side_brush_work_time":%d,'
                '"filter_work_time":%d,"sensor_dirty_time":%d,"%s":%d,'
                '"state":"%s","battery":%d}'
                % (iso(at_ms), dev, secs, sum(s.area_cm2 for s in mine), len(mine),
                   10000 + i + secs, 20000 + i + secs, 30000 + i + secs, 5000 + secs,
                   mop_attr, 40000 + i + secs, state, battery))
        snapshots.append(("\n".join(out) + "\n").encode())
    sessions.sort(key=lambda s: (s.device, s.end_ms))
    return Telemetry(fleet, drops, malformed, samples, snapshots, sessions)


# ---------------------------------------------------------------- answer key

def expected_history(tel, upto_drop):
    """cleaning_history rows after drops 0..upto_drop, in a canonical order."""
    return sorted(
        (s.device, s.end_ms, s.clean_time_min, s.battery_start, s.battery_end,
         s.fan, s.water, s.mop, "idle", s.error)
        for s in tel.sessions if s.drop <= upto_drop)


def session_counts(tel, upto_drop):
    out = {}
    for s in tel.sessions:
        if s.drop <= upto_drop:
            out[s.device] = out.get(s.device, 0) + 1
    return out


def devices_with_new_work(tel, synced_drop, drop):
    """Devices whose lifetime cleaning count at the end of `drop` exceeds
    the one synced at the end of `synced_drop`."""
    before = session_counts(tel, synced_drop)
    return sum(1 for dev, n in session_counts(tel, drop).items() if n > before.get(dev, 0))


def expected_clean_summary(tel, synced_drops):
    """clean_summary rows appended by one transactional sync per listed drop:
    a device is appended when its lifetime counter moved since the last sync."""
    rows, last = [], {}
    for k in synced_drops:
        at_ms = EPOCH_MS + (k + 1) * tel.fleet.drop_s * 1000
        counts = session_counts(tel, k)
        for dev, n in counts.items():
            if n > last.get(dev, 0):
                rows.append((dev, at_ms, n))
        last.update(counts)
    return sorted(rows)


def expected_rollup(tel, upto_drop):
    """Per-device (n_rows, sum of cleanTimeMin) maintained by the rollup."""
    out = {}
    for s in tel.sessions:
        if s.drop <= upto_drop:
            n, total = out.get(s.device, (0, 0.0))
            out[s.device] = (n + 1, total + s.clean_time_min)
    return out


def expected_daily(tel, upto_drop):
    """Pipeline.dailySummary over cleaning_history: per UTC day (count, time sum)."""
    out = {}
    for s in tel.sessions:
        if s.drop <= upto_drop:
            day = iso(s.end_ms)[:10]
            n, total = out.get(day, (0, 0.0))
            out[day] = (n + 1, total + s.clean_time_min)
    return out


def expected_asof(tel, upto_drop, reading_drops):
    """consumablesAsOfCleaning: each cleaning's latest consumables reading time
    (snapshots taken at the end of `reading_drops`), or None."""
    stamps = sorted(EPOCH_MS + (k + 1) * tel.fleet.drop_s * 1000 for k in reading_drops)
    out = []
    for s in tel.sessions:
        if s.drop <= upto_drop:
            prior = [t for t in stamps if t <= s.end_ms]
            out.append((s.device, s.end_ms, prior[-1] if prior else None))
    return sorted(out, key=lambda r: (r[0], r[1]))
