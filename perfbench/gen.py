"""Seeded input generators for the ETL workloads.

Each generator writes its staging files under `out_dir` and returns the
exact counts the program must acknowledge for them. The same seed always
writes the same bytes.

    amplitude(out_dir, seed, n_events)  -> Amplitude /export NDJSON, 24 hourly files
    mixpanel(out_dir, seed, n_events, n_profiles)
                                        -> canonical /export staging + `-engage`
"""

import gzip
import json
import os
import random

EVENT_TYPES = ["Page View", "Sign Up", "Add To Cart", "Checkout", "Search",
               "Share", "Play", "Pause", "Login", "Logout", "Upgrade", "Invite"]
CITIES = [("Berlin", "BE", "DE"), ("Paris", "IDF", "FR"), ("Austin", "TX", "US"),
          ("Osaka", "27", "JP"), ("Lagos", "LA", "NG"), ("Lima", "LIM", "PE")]
OSES = [("ios", "17.1", "Apple", "iPhone15"), ("android", "14", "Google", "Pixel8"),
        ("mac", "14.2", "Apple", "MacBook"), ("windows", "11", "Dell", "XPS")]
PLANS = ["free", "pro", "team", "enterprise"]

# Mixpanel segmentation expression the load_wan workload pushes through
# MixpanelStaged(where=...). `mixpanel()` counts the rows it keeps.
LOAD_WHERE = 'properties["plan"] != "free" and number(properties["amount"]) >= 20'


def _dump(obj):
    return json.dumps(obj, separators=(",", ":"), ensure_ascii=False)


def _write(path, lines, gz):
    data = ("\n".join(lines) + "\n").encode("utf-8")
    if gz:
        # mtime=0 keeps the gzip header, and so the file bytes, seed-stable
        with open(path, "wb") as raw, gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as f:
            f.write(data)
    else:
        with open(path, "wb") as f:
            f.write(data)


def amplitude(out_dir, seed, n_events, hours=24, corrupt_every=5000):
    """Amplitude export events spread over `hours` hourly files; every third
    file is gzipped. About 80% of events carry `user_id`, about 30% carry a
    non-empty `user_properties`, about 20% an explicit `$insert_id`, and one
    line in `corrupt_every` is a truncated JSON object.

    Returns the counts Pipeline.run must acknowledge: every good line is one
    event, one profile per distinct_id with non-empty user properties, one
    `$merge` per distinct (user_id, device_id) pair with user_id != device_id.
    """
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_users = max(1, n_events // 20)
    profile_ids, merge_pairs = set(), set()
    good = corrupt = 0
    per_hour = [n_events // hours + (1 if h < n_events % hours else 0) for h in range(hours)]
    seq = 0
    for h in range(hours):
        lines = []
        for _ in range(per_hour[h]):
            seq += 1
            uid = rng.randrange(n_users)
            user = f"u{uid}" if rng.random() < 0.8 else None
            r = rng.random()
            # each user owns up to three devices; a few devices reuse the
            # user id (no merge edge) and a few events carry no device
            if r < 0.05 and user:
                device = user
            elif r < 0.92:
                device = f"d{uid * 7919 % 1_000_003:x}-{rng.randrange(3)}"
            else:
                device = None
            amp_id = 10_000_000 + rng.randrange(n_users * 3)
            city, region, country = rng.choice(CITIES)
            os_name, os_ver, brand, model = rng.choice(OSES)
            ev = {
                "event_type": rng.choice(EVENT_TYPES),
                "user_id": user,
                "device_id": device,
                "amplitude_id": amp_id,
                "event_time": f"2024-03-01 {h:02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}.{rng.randrange(1000):03d}",
                "ip_address": f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(256)}",
                "city": city, "region": region, "country": country,
                "event_properties": {"seq": str(seq), "page": f"/p/{rng.randrange(500)}",
                                     "value": str(rng.randrange(10_000))},
                "app_version": f"3.{rng.randrange(20)}", "os_name": os_name,
                "os_version": os_ver, "device_brand": brand,
                "device_manufacturer": brand, "device_model": model,
            }
            if rng.random() < 0.2:
                ev["$insert_id"] = f"ins-{seed}-{seq}"
            if rng.random() < 0.15:
                ev["groups"] = {"company": f"c{rng.randrange(300)}"}
            p = rng.random()
            if p < 0.30:
                ev["user_properties"] = {"plan": rng.choice(PLANS),
                                         "age": str(18 + rng.randrange(60)),
                                         "cohort": f"w{rng.randrange(52)}"}
                did = user or device or str(amp_id)
                profile_ids.add(did)
            elif p < 0.40:
                ev["user_properties"] = {}
            if user and device and user != device:
                merge_pairs.add((user, device))
            lines.append(_dump(ev))
            good += 1
            # never the very first line: the NDJSON sniff reads it
            if seq % corrupt_every == corrupt_every // 2:
                cut = lines[-1][: rng.randrange(20, 60)]
                lines.append(cut)
                corrupt += 1
        name = f"events_2024-03-01_{h:02d}.json" + (".gz" if h % 3 == 2 else "")
        _write(os.path.join(out_dir, name), lines, gz=h % 3 == 2)
    return {"events": good, "corrupt": corrupt, "profiles": len(profile_ids),
            "merges": len(merge_pairs)}


def mixpanel(out_dir, seed, n_events, n_profiles, files=16, engage_files=4):
    """Canonical Mixpanel /export staging under `out_dir` and /engage
    staging under `out_dir + "-engage"`. Returns the number of events that
    pass LOAD_WHERE and the number of profiles.
    """
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    passing = 0
    n_users = max(1, n_events // 10)
    per_file = [n_events // files + (1 if f < n_events % files else 0) for f in range(files)]
    seq = 0
    for f in range(files):
        lines = []
        for _ in range(per_file[f]):
            seq += 1
            plan = rng.choice(PLANS)
            amount = rng.randrange(100)
            city, region, country = rng.choice(CITIES)
            ev = {
                "event": rng.choice(EVENT_TYPES),
                "distinct_id": f"u{rng.randrange(n_users)}",
                "time": 1_709_251_200 + rng.randrange(86_400 * 7),
                "insert_id": f"mp-{seed}-{seq}",
                "source": "mixpanel-export",
                "properties": {"plan": plan, "amount": str(amount), "$city": city,
                               "$region": region, "mp_country_code": country,
                               "$browser": rng.choice(["Chrome", "Firefox", "Safari"]),
                               "page": f"/p/{rng.randrange(500)}"},
            }
            if plan != "free" and amount >= 20:
                passing += 1
            lines.append(_dump(ev))
        _write(os.path.join(out_dir, f"part-{f:05d}.json"), lines, gz=False)
    engage_dir = out_dir + "-engage"
    os.makedirs(engage_dir, exist_ok=True)
    lines = []
    for i in range(n_profiles):
        city, _, country = rng.choice(CITIES)
        lines.append(_dump({"$distinct_id": f"u{i}", "$properties": {
            "$name": f"User {i}", "$email": f"user{i}@example.com", "plan": rng.choice(PLANS),
            "$city": city, "$country_code": country, "ltv": str(rng.randrange(5000))}}))
    for f in range(engage_files):
        _write(os.path.join(engage_dir, f"engage-{f:05d}.json"), lines[f::engage_files], gz=False)
    return {"events": passing, "profiles": n_profiles, "merges": 0, "corrupt": 0,
            "where": LOAD_WHERE}
