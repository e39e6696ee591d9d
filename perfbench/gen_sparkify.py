"""Seeded Sparkify input generator with ground truth, for `lake_etl`.

Writes data shaped like the Udacity "Data Lake" project inputs that
`etl.run_pipeline` reads:

- ``song_data/A/B/C/TRABC....json``: one small JSON object per file
  (num_songs, artist_*, song_id, title, duration, year), including a
  few duplicate song files under other track ids and many ``year: 0``
  rows, as in the original set;
- ``log_data/2018/11/2018-11-DD-events.json``: one newline-delimited
  file per day of app events, with non-NextSong pages, logged-out
  events whose ``userId`` is empty, guest plays, users whose level
  changes, and plays of songs that are not in the song set.

Alongside the JSON it returns the counts a correct pipeline writes:
songs, artists, users, time rows, songplays and matched songplays.
Same seed, same files.
"""

from __future__ import annotations

import json
import os

import numpy as np

N_SONGS = 60
N_USERS = 40
DAYS = 30
SESSIONS_PER_DAY = 12
MATCH_SHARE = 0.3

_ALNUM = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"))
_WORDS = [
    "love", "night", "blue", "river", "fire", "dream", "city", "heart",
    "rain", "golden", "shadow", "summer", "road", "silver", "wild", "home",
    "light", "ocean", "stone", "echo", "storm", "paper", "velvet", "ghost",
]
_FIRST = ["Ava", "Ben", "Cara", "Dan", "Eli", "Fay", "Gus", "Hana", "Ivan", "Jude", "Kai", "Lena"]
_LAST = ["Reed", "Shaw", "Cole", "Diaz", "Park", "Wong", "Hale", "Kerr", "Lutz", "Moss"]
_CITIES = [
    "Chicago-Naperville-Elgin, IL-IN-WI", "San Jose-Sunnyvale-Santa Clara, CA",
    "Atlanta-Sandy Springs-Roswell, GA", "Portland-South Portland, ME",
    "Lansing-East Lansing, MI", "Tampa-St. Petersburg-Clearwater, FL",
]
_OTHER_PAGES = ["Home", "Settings", "Add to Playlist", "Thumbs Up", "Help", "About", "Downgrade", "Upgrade"]
_AGENT = '"Mozilla/5.0 (Windows NT 6.1; WOW64) AppleWebKit/537.36"'
_DAY0_MS = 1541030400000  # 2018-11-01T00:00:00Z


def _code(rng, prefix: str, n: int) -> list[str]:
    out, seen = [], set()
    while len(out) < n:
        c = prefix + "".join(rng.choice(_ALNUM, 16))
        if c not in seen:
            seen.add(c)
            out.append(c)
    return out


def _title(rng, i: int) -> str:
    words = rng.choice(_WORDS, int(rng.integers(1, 4)))
    return " ".join(w.capitalize() for w in words) + f" {i}"


def write(seed: int, out_dir: str) -> dict:
    """Write song_data/ and log_data/ under ``out_dir``; return the
    expected table counts and the input size."""
    rng = np.random.default_rng(seed)
    n_artists = N_SONGS * 4 // 5
    artist_ids = _code(rng, "AR", n_artists)
    artist_names = [f"{rng.choice(_WORDS).capitalize()} {rng.choice(_LAST)} {i}" for i in range(n_artists)]
    songs = []
    for i, sid in enumerate(_code(rng, "SO", N_SONGS)):
        a = i % n_artists if i < n_artists else int(rng.integers(0, n_artists))
        located = rng.random() < 0.4
        songs.append(
            {
                "num_songs": 1,
                "artist_id": artist_ids[a],
                "artist_latitude": round(float(rng.uniform(-60, 60)), 5) if located else None,
                "artist_longitude": round(float(rng.uniform(-150, 150)), 5) if located else None,
                "artist_location": str(rng.choice(_CITIES)) if located else "",
                "artist_name": artist_names[a],
                "song_id": sid,
                "title": _title(rng, i),
                "duration": round(float(rng.uniform(30, 600)), 5),
                "year": 0 if rng.random() < 0.4 else int(rng.integers(1960, 2011)),
            }
        )
    # a few songs are also shipped under a second track id
    files = songs + [songs[int(j)] for j in rng.choice(N_SONGS, N_SONGS // 50, replace=False)]
    in_bytes = 0
    for k, song in enumerate(files):
        tid = "TR" + "".join(rng.choice(_ALNUM[:3], 3)) + f"{k:06d}" + "".join(rng.choice(_ALNUM, 7))
        d = os.path.join(out_dir, "song_data", tid[2], tid[3], tid[4])
        os.makedirs(d, exist_ok=True)
        body = json.dumps(song)
        with open(os.path.join(d, f"{tid}.json"), "w") as f:
            f.write(body)
        in_bytes += len(body)

    users = {
        str(u): {
            "firstName": str(rng.choice(_FIRST)),
            "lastName": str(rng.choice(_LAST)),
            "gender": str(rng.choice(["F", "M"])),
            "location": str(rng.choice(_CITIES)),
            "level": str(rng.choice(["free", "paid"])),
        }
        for u in range(1, N_USERS + 1)
    }
    log_dir = os.path.join(out_dir, "log_data", "2018", "11")
    os.makedirs(log_dir, exist_ok=True)
    plays = matched = 0
    play_users: set[str] = set()
    play_ts: set[int] = set()
    session_id = 0
    for day in range(DAYS):
        events = []
        for _ in range(SESSIONS_PER_DAY):
            session_id += int(rng.integers(1, 20))
            guest = rng.random() < 0.15
            uid = "" if guest else str(rng.integers(1, N_USERS + 1))
            if not guest and rng.random() < 0.1:
                users[uid]["level"] = "paid" if users[uid]["level"] == "free" else "free"
            prof = users[uid] if uid else dict.fromkeys(("firstName", "lastName", "gender", "location", "level"))
            ts = _DAY0_MS + day * 86_400_000 + int(rng.integers(0, 80_000_000))
            for item in range(int(rng.integers(3, 25))):
                ts += int(rng.integers(1_000, 300_000))
                page = "NextSong" if rng.random() < 0.8 else str(rng.choice(_OTHER_PAGES))
                if guest and page == "NextSong" and rng.random() < 0.7:
                    page = str(rng.choice(["Home", "Login", "Help"]))
                ev = {
                    "artist": None, "auth": "Guest" if guest else "Logged In",
                    "firstName": prof["firstName"], "gender": prof["gender"],
                    "itemInSession": item, "lastName": prof["lastName"], "length": None,
                    "level": prof["level"] or "free", "location": prof["location"],
                    "method": "PUT" if page == "NextSong" else "GET", "page": page,
                    "registration": None if guest else 1540000000000.0 + int(uid) * 1000.0,
                    "sessionId": session_id, "song": None, "status": 200, "ts": ts,
                    "userAgent": None if guest else _AGENT, "userId": uid,
                }
                if page == "NextSong":
                    if rng.random() < MATCH_SHARE:
                        s = songs[int(rng.integers(0, N_SONGS))]
                        ev.update(artist=s["artist_name"], song=s["title"], length=s["duration"])
                        matched += 1
                    else:
                        ev.update(
                            artist=f"Unsigned {rng.choice(_LAST)}",
                            song=f"{rng.choice(_WORDS).capitalize()} Demo",
                            length=round(float(rng.uniform(60, 400)), 5),
                        )
                    plays += 1
                    play_ts.add(ts)
                    if uid:
                        play_users.add(uid)
                events.append(ev)
        path = os.path.join(log_dir, f"2018-11-{day + 1:02d}-events.json")
        body = "".join(json.dumps(e) + "\n" for e in events)
        with open(path, "w") as f:
            f.write(body)
        in_bytes += len(body)

    return {
        "songs": N_SONGS,
        "artists": n_artists,
        "users": len(play_users),
        "time": len(play_ts),
        "songplays": plays,
        "matched_songplays": matched,
        "song_files": len(files),
        "log_files": DAYS,
        "input_bytes": in_bytes,
    }
