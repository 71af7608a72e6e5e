"""Seeded landing-zone generator for the six-stage DAG workloads.

``generate(root, n_submissions, seed)`` writes the lakehouse landing zone
that ``cli.run_stage`` reads:

    landing/<form>.jsonl   Kobo submissions for the five pinned forms
    landing/trips.csv      PDS trip summaries
    landing/points.csv     GPS points, 30 per trip at 60 s cadence
    landing/devices.csv    device registry

and returns the outputs the DAG must produce, known by construction:

- ``raw`` rows (= preprocessed = validated = export_landings rows): one
  row per submission x vessel x catch, with a placeholder row for a
  submission without vessels or a vessel without catches;
- ``merged`` rows: the "matched" submissions, each with one vessel, one
  catch, an IMEI suffix that matches exactly one registry device, and
  exactly one trip of that device on the landing day. Decoys break the
  uniqueness guard on each side: two landings on one (day, device), two
  trips on one (day, device), and a suffix shared by two devices;
- ``tracks`` rows: three 10-minute buckets per merged trip;
- ``alerts``: the ``alert_number`` distribution. Outliers are planted for
  each validate alert (1 date, 2 crew, 3 boats, 4 price per kg) on top of
  value ranges the robust bounds never flag;
- ``malformed``: lines that are not JSON, absorbed by the PERMISSIVE read.

Only the standard library is used, so the bytes depend on the seed alone.
Run ``python3 dagbench/landing.py --selftest`` to check that one seed
gives the same bytes twice and two seeds give different bytes.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
from collections import Counter

FORMS = ("FISHERIES eCAS DATA", "FieldDataApp-2024", "FieldDataApp-2024A",
         "FieldDataApp-2023F", "Malawi SSF")
SSF = "Malawi SSF"
GV = "group_vessel_data"
TAXA = ("Usipa", "Chambo", "Kampango", "Utaka", "Ndunduma", "Mlamba")
GEARS = ("Gillnet", "Chilimira", "Longline", "Handline", "Fish Trap",
         "Kambuzi seine", "Mosquito net")
DISTRICTS = ("Mangochi", "Salima", "Nkhotakota", "Dedza")
FIRST_DAY = dt.date(2021, 1, 4)
N_DEVICES = 400          # matchable devices, each with a unique 8-digit suffix
N_TWINS = 20             # device pairs sharing their 8-digit suffix
POINTS_PER_TRIP = 30     # 60 s apart from a 10-minute boundary: 3 buckets
BUCKETS_PER_TRIP = 3


def _shares(n: int) -> dict[str, int]:
    """How many submissions of each planted kind a landing zone holds."""
    one = max(1, n // 100)
    return {"matched": (3 * n) // 10, "dup_landing_pairs": one,
            "dup_trip": one, "ambiguous": max(1, n // 200),
            "alert_date": one, "alert_crew": one, "alert_boats": one,
            "alert_price": one, "noise_trips": max(1, n // 20),
            "malformed": max(1, n // 200)}


def _digits(r: random.Random, k: int, first_nonzero: bool = True,
            last_parity: int | None = None) -> str:
    """``k`` random decimal digits; optionally no leading zero and a last
    digit of the given parity."""
    s = [str(r.randint(1 if first_nonzero else 0, 9))]
    s += [str(r.randint(0, 9)) for _ in range(k - 2)]
    last = r.randint(0, 9)
    if last_parity is not None and last % 2 != last_parity:
        last = (last + 1) % 10
    return "".join(s) + str(last)


def _devices(r: random.Random) -> tuple[list[dict], list[str], list[tuple[str, str]]]:
    """Registry rows, the matchable IMEIs, and twin-suffix IMEI pairs.
    Every device IMEI ends in an even digit, so a tracker suffix ending
    in an odd digit can never match (the "unknown device" case)."""
    seen: set[str] = set()
    rows, unique, twins = [], [], []

    def suffix() -> str:
        while True:
            s = _digits(r, 8, last_parity=0)
            if s not in seen:
                seen.add(s)
                return s

    for i in range(N_DEVICES):
        s = suffix()
        imei = "8611" + _digits(r, 3, first_nonzero=False) + s
        unique.append(imei)
        rows.append({"IMEI": imei, "device_id": f"d{i}"})
    for j in range(N_TWINS):
        s = suffix()
        a = "8612" + _digits(r, 3, first_nonzero=False) + s
        b = "8622" + _digits(r, 3, first_nonzero=False) + s
        twins.append((a, b))
        rows.append({"IMEI": a, "device_id": f"t{j}a"})
        rows.append({"IMEI": b, "device_id": f"t{j}b"})
    for row in rows:
        row.update(boat_name=f"boat-{row['device_id']}",
                   community=DISTRICTS[len(row["IMEI"]) % 4], status="active")
    return rows, unique, twins


def _vessel(form: str, r: random.Random, imei: str | None, n_catches: int,
            crew: str, price: float | None = None) -> dict:
    gear = r.choice(GEARS)
    catches = []
    for _ in range(n_catches):
        taxon = r.choice(TAXA)
        kg = f"{r.uniform(0.5, 20.0):.1f}"
        pkg = price if price is not None else r.uniform(800.0, 1800.0)
        catches.append((taxon, kg, f"{pkg:.0f}"))
    if form == SSF:
        v = {"vessels/vessel_type": "Dugout Canoe", "vessels/crew_number": crew,
             "vessels/hours_fished": str(r.randint(2, 10)),
             "vessels/gear_type": gear}
        if imei is not None:
            v["vessels/imei_number"] = imei
        if gear == "Gillnet":
            v["vessels/group_gillnets"] = [
                {"net_type": "a", "gillnet_mesh": "25", "gillnet_length": "100"}]
        v["vessels/fish_repeat"] = [
            {"vessels/group_species/fish_species": t,
             "vessels/group_species/weight": kg,
             "vessels/group_species/value_species": p,
             "vessels/group_species/value_type": "per_kg",
             "vessels/group_species/weight_type": "total"}
            for t, kg, p in catches]
        return v
    weight = "weight" if form == "FISHERIES eCAS DATA" else "weight_kg"
    v = {f"{GV}/group_vessel/vessel_type": "B+E",
         f"{GV}/group_vessel/crew_number": crew,
         f"{GV}/group_vessel/hours_fished": str(r.randint(2, 10)),
         f"{GV}/group_gear/gear_type": gear}
    if imei is not None:
        v[f"{GV}/group_vessel/imei_number"] = imei
    if gear == "Gillnet":
        mesh = "gillnet_mesh" if form == "FISHERIES eCAS DATA" else "gillnet_mesh_mm"
        v[f"{GV}/group_gillnets"] = [{"net_type": "a", mesh: "25"}]
    v[f"{GV}/group_catch"] = [
        {"fish_species": t, weight: kg, "value_species": p,
         "value_type": "per_kg", "weight_type": "total"}
        for t, kg, p in catches]
    return v


def _submission(form: str, sid: int, landing: dt.date, today: dt.date,
                n_boats: str, vessels: list[dict], r: random.Random) -> dict:
    gps = f"-{13 + r.random():.4f} {34 + r.random():.4f} 480 5"
    district = r.choice(DISTRICTS)
    if form == SSF:
        return {"_id": sid, "today": today.isoformat(),
                "group_location/date_of_landing": landing.isoformat(),
                "group_location/sample_district": district,
                "group_location/landing_beach": f"{district} beach",
                "group_location/gps_location_001": gps,
                "fishing": "yes", "total_landings": n_boats,
                "vessels": vessels}
    return {"_id": sid, "today": today.isoformat(),
            "group_location/landing_date": landing.isoformat(),
            "group_location/sample_district": district,
            "group_location/landing_beach": f"{district} beach",
            "group_location/gps_location": gps,
            "fishing_today": "yes", "n_vessels": n_boats,
            GV: vessels}


def _rows_of(n_catches_per_vessel: list[int]) -> int:
    """Raw rows a submission explodes to (placeholders included)."""
    if not n_catches_per_vessel:
        return 1
    return sum(max(1, c) for c in n_catches_per_vessel)


def generate(root: str, n_submissions: int, seed: int) -> dict:
    """Write the landing zone under ``root`` and return its expected
    outputs, byte counts and a sha256 digest of every file written."""
    r = random.Random(seed)
    sh = _shares(n_submissions)
    devices, unique, twins = _devices(r)

    n_pairs = (sh["matched"] + sh["dup_landing_pairs"] + sh["dup_trip"]
               + sh["noise_trips"])
    n_days = max(365, -(-2 * n_pairs // N_DEVICES))
    pairs = r.sample(range(N_DEVICES * n_days), n_pairs)
    pair_iter = iter(pairs)

    def next_pair() -> tuple[str, dt.date]:
        p = next(pair_iter)
        return unique[p % N_DEVICES], FIRST_DAY + dt.timedelta(days=p // N_DEVICES)

    def some_day() -> dt.date:
        return FIRST_DAY + dt.timedelta(days=r.randrange(n_days))

    subs: list[tuple[str, dict]] = []
    trips: list[tuple[str, dt.date, bool]] = []   # (imei, day, rollover)
    expected_rows = 0
    alerts: Counter = Counter()
    sid = 0

    def add(form: str, landing: dt.date, today: dt.date, imei: str | None,
            catches: list[int], n_boats: int = 0, crew: list[str] | None = None,
            price: float | None = None, alert: str = "") -> None:
        nonlocal sid, expected_rows
        sid += 1
        crews = crew or [str(r.randint(1, 8)) for _ in catches]
        vessels = [_vessel(form, r, imei, c, crews[i], price)
                   for i, c in enumerate(catches)]
        boats = str(n_boats or r.randint(1, 30))
        subs.append((form, _submission(form, sid, landing, today, boats,
                                       vessels, r)))
        n = _rows_of(catches)
        expected_rows += n
        alerts[alert] += n

    def matched_like(imei: str, day: dt.date) -> None:
        """One vessel, one catch, reporting the IMEI's last 8 digits."""
        add(r.choice(FORMS), day, day + dt.timedelta(days=r.randint(0, 1)),
            imei[-8:], [1])

    for _ in range(sh["matched"]):
        imei, day = next_pair()
        matched_like(imei, day)
        trips.append((imei, day, r.random() < 0.1))
    for _ in range(sh["dup_landing_pairs"]):
        imei, day = next_pair()
        matched_like(imei, day)
        matched_like(imei, day)
        trips.append((imei, day, False))
    for _ in range(sh["dup_trip"]):
        imei, day = next_pair()
        matched_like(imei, day)
        trips.append((imei, day, False))
        trips.append((imei, day, False))
    for i in range(sh["ambiguous"]):
        a, b = twins[i % N_TWINS]
        day = some_day()
        matched_like(a, day)
        trips.append((a, day, False))
        trips.append((b, day, False))
    for _ in range(sh["noise_trips"]):
        trips.append((*next_pair(), False))

    def unknown_imei() -> str | None:
        x = r.random()
        if x < 0.3:
            return None
        if x < 0.45:
            return str(r.randint(100, 9999))        # too short: alert_imei 1
        return _digits(r, 8, last_parity=1)          # no device ends in odd

    def generic_catches() -> list[int]:
        n_v = r.choices((0, 1, 2, 3), (1, 5, 3, 1))[0]
        return [r.choices((0, 1, 2, 3), (1, 5, 3, 1))[0] for _ in range(n_v)]

    planted = (("alert_date", "1"), ("alert_crew", "2"),
               ("alert_boats", "3"), ("alert_price", "4"))
    for kind, code in planted:
        for _ in range(sh[kind]):
            day = some_day()
            kw = {"catches": [1], "alert": code}
            landing = day
            if kind == "alert_date":
                landing = dt.date(2019, 6, 1)
            elif kind == "alert_crew":
                kw["crew"] = ["-2"]
            elif kind == "alert_boats":
                kw["n_boats"] = -1
            else:
                kw["price"] = 1.0e7
            add(r.choice(FORMS), landing, day, unknown_imei(), **kw)
    n_generic = n_submissions - len(subs)
    for _ in range(n_generic):
        day = some_day()
        add(r.choice(FORMS), day, day + dt.timedelta(days=r.randint(0, 1)),
            unknown_imei(), generic_catches())

    # one file per form, submissions in a seeded order, malformed lines
    # spliced in at seeded positions
    r.shuffle(subs)
    lines: dict[str, list[str]] = {f: [] for f in FORMS}
    for form, sub in subs:
        lines[form].append(json.dumps(sub, separators=(",", ":")))
    for k in range(sh["malformed"]):
        form = FORMS[k % len(FORMS)]
        pos = r.randrange(len(lines[form]) + 1)
        lines[form].insert(pos, '{"_id":%d,"today":"2024-0' % (10 ** 9 + k))

    landing_dir = os.path.join(root, "landing")
    os.makedirs(landing_dir, exist_ok=True)
    written: dict[str, bytes] = {}
    for form in FORMS:
        written[f"{form}.jsonl"] = ("\n".join(lines[form]) + "\n").encode()

    r.shuffle(trips)
    trip_rows, point_rows = [], []
    for t_id, (imei, day, rollover) in enumerate(trips, start=1000):
        if rollover:                       # 22:30 UTC = 00:30 next civil day
            ended = dt.datetime.combine(day, dt.time()) - dt.timedelta(minutes=90)
        else:
            ended = (dt.datetime.combine(day, dt.time(10))
                     + dt.timedelta(minutes=10 * r.randrange(48)))
        started = ended - dt.timedelta(hours=6)
        trip_rows.append(
            f"{t_id},{imei},dev,boat,comm,{started:%Y-%m-%d %H:%M:%S},"
            f"{ended:%Y-%m-%d %H:%M:%S},21600,{r.uniform(100, 9000):.1f},"
            f"{r.uniform(1000, 40000):.1f},{ended:%Y-%m-%d %H:%M:%S},")
        lat, lng = -13.0 - r.random(), 34.0 + r.random()
        day_s = f"{started:%Y-%m-%d}"
        m0 = started.hour * 60 + started.minute   # no trip crosses midnight
        for i in range(POINTS_PER_TRIP):
            m = m0 + i
            point_rows.append(
                f"{t_id},{day_s} {m // 60:02d}:{m % 60:02d}:00,"
                f"{lat - i * 1e-4:.6f},{lng + i * 2e-4:.6f},"
                f"{(t_id * 7 + i) % 500 / 100:.2f},10.0,"
                f"{(t_id + 13 * i) % 360}.0,B{t_id},Boat,C")
    written["trips.csv"] = (
        "Trip,IMEI,Device,Boat,Community,Started,Ended,Duration (Seconds),"
        "Range (Meters),Distance (Meters),Last Seen,Tags\n"
        + "\n".join(trip_rows) + "\n").encode()
    written["points.csv"] = (
        "Trip,Time,Lat,Lng,Speed (M/S),Range (Meters),Heading,Boat,"
        "Boat Name,Community\n" + "\n".join(point_rows) + "\n").encode()
    written["devices.csv"] = (
        "IMEI,device_id,boat_name,community,status\n"
        + "\n".join(f"{d['IMEI']},{d['device_id']},{d['boat_name']},"
                    f"{d['community']},{d['status']}" for d in devices)
        + "\n").encode()

    digest = hashlib.sha256()
    for name in sorted(written):
        with open(os.path.join(landing_dir, name), "wb") as fh:
            fh.write(written[name])
        digest.update(name.encode() + b"\0" + written[name])
    return {
        "submissions": n_submissions,
        "malformed": sh["malformed"],
        "raw": expected_rows,
        "merged": sh["matched"],
        "tracks": sh["matched"] * BUCKETS_PER_TRIP,
        "trips": len(trips),
        "points": len(point_rows),
        "alerts": dict(sorted(alerts.items())),
        "landing_bytes": sum(len(b) for b in written.values()),
        "input_rows": (n_submissions + sh["malformed"] + len(trips)
                       + len(point_rows) + len(devices)),
        "sha256": digest.hexdigest(),
        "forms": {f: "pinned" for f in FORMS},
    }


def selftest(scratch: str, n: int = 400) -> str | None:
    """Generate seeds 1, 1 and 2 under ``scratch``; return an error
    message, or None when one seed repeats its bytes and another
    seed differs."""
    digests = []
    for i, seed in enumerate((1, 1, 2)):
        digests.append(generate(os.path.join(scratch, f"st{i}"), n, seed)["sha256"])
    if digests[0] != digests[1]:
        return "the same seed gave different landing bytes"
    if digests[0] == digests[2]:
        return "two seeds gave the same landing bytes"
    return None


if __name__ == "__main__":
    import argparse
    import shutil
    import sys
    import tempfile

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--root")
    ap.add_argument("--n", type=int, default=10_000)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    if args.selftest:
        here = os.path.dirname(os.path.abspath(__file__))
        tmp = tempfile.mkdtemp(dir=os.path.dirname(here), prefix=".dagbench_selftest_")
        try:
            err = selftest(tmp)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        print(err or "ok: same seed, same bytes; other seed, other bytes")
        sys.exit(1 if err else 0)
    if not args.root:
        ap.error("--root is required unless --selftest")
    print(json.dumps(generate(args.root, args.n, args.seed), indent=1))
