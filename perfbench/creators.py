"""Seeded creator-document generator and the plain-Python output check
for the ``creator_etl`` workload.

``generate`` writes ``<root>/<username>/userInfo.json`` and
``postInfo.json`` in the FIXTURES.md §A shapes and returns the expected
per-creator values, computed here in plain Python without Spark:

* the report has one row per public creator (private profiles are
  filtered by ``load_users``);
* ``total_posts_last_3_months`` counts posts taken within 90 days of
  ``as_of``;
* ``avg_likes`` is the half-even rounded mean of the likes;
* ``average_engagement_rate`` is the mean of the top-6 recent posts'
  interaction ER ``(likes + 5 * comments) / followers * 100``, each
  rounded to 2 dp first, then the mean rounded to 2 dp (SURVEY.md A1/Q5);
  a set of values where the engine's float sum may round either way.

The engine rounds with Spark's ``bround``, which rounds the decimal
rendering of the double half-even; ``_bround`` does the same through
``Decimal(repr(x))``.
"""

from __future__ import annotations

import csv
import datetime as dt
import glob
import json
import os
import random
from decimal import ROUND_CEILING, ROUND_FLOOR, ROUND_HALF_EVEN, Decimal

DAY = 86400
RECENT_DAYS = 90

NICHES = {
    "fitness": ["#fitness", "#gym", "#workout", "#yoga"],
    "travel": ["#travel", "#wanderlust", "#adventure", "#explore"],
    "food": ["#foodie", "#recipe", "#baking", "#cooking"],
    "fashion": ["#ootd", "#fashion", "#style", "#outfit"],
    "beauty": ["#makeup", "#skincare", "#beauty", "#glam"],
}
CITIES = ["Austin", "Denver", "Seattle", "Boston", "Miami", "Chicago", "Portland"]
SPONSOR_PHRASES = ["#ad", "paid partnership", "promo code SAVE10", "#sponsored", "gifted by"]
BRANDS = ["brandco", "luxhotels", "fitgear", "glowlab", "tourboard"]
PHONES = ["512-555-{:04d}", "(303) 555-{:04d}", "206.555.{:04d}", "+1 617 555 {:04d}", "305555{:04d}"]
FOLLOWER_EDGES = [0, 999, 1000, 4999, 5000, 9999, 10000, 49999, 50000,
                  499999, 500000, 999999, 1000000]
PRODUCT_TYPES = [("clips", 2), ("carousel_container", 8), ("feed", 1)]


def _bround(x: float, places: int) -> float:
    """Spark ``bround`` on a double: half-even on its decimal rendering."""
    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_EVEN))


def _user(rng: random.Random, username: str, niche: str, i: int) -> dict:
    bio = [f"{niche} lover", "content creator" if i % 7 == 0 else "daily stories"]
    if i % 3 == 0:
        bio.append(f"contact: {username.replace('.', '_')}@example.com")
    if i % 4 == 0:
        bio.append(PHONES[i % len(PHONES)].format(rng.randrange(10000)))
    followers = (FOLLOWER_EDGES[i % len(FOLLOWER_EDGES)] if i % 5 == 0
                 else rng.randrange(200, 2_000_000))
    return {
        "username": username,
        "full_name": rng.choice(["", "Sam", "Alex Rivera", "Jo Ann Lee"]),
        "biography": "\n".join(bio),
        "follower_count": followers,
        "following_count": rng.choice([50, 80, rng.randrange(100, 3000)]),
        "media_count": rng.randrange(10, 900),
        "is_private": i % 13 == 5,
        "is_verified": followers > 50000 and i % 2 == 0,
        "is_business": i % 9 == 0,
        "category": rng.choice(["Digital creator", "Reel creator", "Public figure", None]),
        "external_url": rng.choice([None, "https://shop.example.com", f"https://{niche}.blog"]),
        "pronouns": rng.choice([[], [], ["she/her"], ["he/him"], ["they/them"]]),
        "bio_links": rng.choice([[], [{"url": f"https://www.tiktok.com/@{username}"}],
                                 [{"url": "https://linktr.ee/x"}, {"url": ""}]]),
        "profile_pic_url": None,
    }


def _post(rng: random.Random, username: str, niche: str, j: int, taken_at: int) -> dict:
    tags = " ".join(rng.sample(NICHES[niche], 2))
    caption = f"Day {j} in {rng.choice(CITIES)} {tags} @{rng.choice(BRANDS)}"
    if rng.random() < 0.1:
        caption += " " + rng.choice(SPONSOR_PHRASES)
    product, media = PRODUCT_TYPES[rng.randrange(len(PRODUCT_TYPES))]
    likes = rng.randrange(0, 40000)
    if rng.random() < 0.05:
        likes *= 2  # viral spike
    node = {
        "id": f"{username}_{j}",
        "pk": f"{j}",
        "code": f"C{rng.randrange(16**8):08x}",
        "taken_at": taken_at,
        "caption": {"text": caption, "created_at": taken_at, "pk": f"c{j}",
                    "has_translation": False},
        "like_count": likes,
        "comment_count": rng.randrange(0, max(1, likes // 20) + 5),
        "share_count": None,
        "view_count": None,
        "product_type": product,
        "media_type": media,
        "is_paid_partnership": rng.random() < 0.02,
        "sponsor_tags": ([{"username": rng.choice(BRANDS)}] if rng.random() < 0.03 else None),
        "owner": ({"username": rng.choice(BRANDS), "pk": "o1"} if rng.random() < 0.04
                  else {"username": username, "pk": "o0"}),
        "user": {"username": username},
        "coauthor_producers": ([{"username": rng.choice(BRANDS)}] if rng.random() < 0.04 else None),
        "location": ({"pk": f"l{j}", "lat": 30.0, "lng": -97.0, "name": rng.choice(CITIES)}
                     if rng.random() < 0.2 else None),
    }
    if product == "carousel_container":
        node["carousel_media"] = [
            {"media_type": 1, "like_count": None, "taken_at": taken_at} for _ in range(3)
        ]
    return {"node": node}


def _taken_ats(rng: random.Random, epoch: int, n: int) -> list[int]:
    """Newest first, spread over <90 d, 90-300 d and >300 d; no post sits
    within a day of the 90-day cutoff, so the window never hinges on the
    time zone."""
    out = []
    for _ in range(n):
        band = rng.random()
        if band < 0.55:
            days = rng.uniform(0.1, RECENT_DAYS - 1)
        elif band < 0.85:
            days = rng.uniform(RECENT_DAYS + 1, 300)
        else:
            days = rng.uniform(301, 700)
        out.append(epoch - int(days * DAY))
    return sorted(out, reverse=True)


def _top6_er(scores: list[int], fol: int):
    """Mean of the per-post interaction ERs, each rounded to 2 dp, rounded
    to 2 dp. An exact half-cent mean is a tie that the engine's float sum
    may round either way, so both neighbours are accepted there."""
    per_post = [Decimal(repr(_bround(s / fol * 100, 2))) for s in scores]
    mean = sum(per_post) / len(per_post)
    cent = Decimal("0.01")
    if (mean * 200) % 2 == 1:
        return frozenset({float(mean.quantize(cent, ROUND_FLOOR)),
                          float(mean.quantize(cent, ROUND_CEILING))})
    return float(mean.quantize(cent, ROUND_HALF_EVEN))


def _expected(user: dict, posts: list[dict], cutoff: int) -> dict:
    nodes = [p["node"] for p in posts]
    likes = [n["like_count"] for n in nodes]
    fol = user["follower_count"]
    recent = [n for n in nodes if n["taken_at"] >= cutoff]
    aer = 0.0
    if fol > 0 and recent:
        aer = _top6_er(sorted((n["like_count"] + 5 * n["comment_count"] for n in recent),
                              reverse=True)[:6], fol)
    # a creator without followers reports no recent posts (the reference's
    # early return, analyze_insta_enhanced.py:1508)
    return {
        "total_posts_last_3_months": len(recent) if fol > 0 else 0,
        "avg_likes": int(_bround(sum(likes) / len(likes), 0)),
        "average_engagement_rate": aer,
    }


def generate(root: str, n_creators: int, seed: int, as_of: dt.datetime) -> tuple[dict, int]:
    """Write the creator documents under ``root``; return the expected
    values of every public creator, keyed by username, and the number of
    posts written."""
    rng = random.Random(seed)
    epoch = int(as_of.timestamp())
    cutoff = epoch - RECENT_DAYS * DAY
    # 12-50 posts per creator, the same multiset for every seed, so a
    # seed changes the content but never the volume
    counts = [12 + (i * 17) % 39 for i in range(n_creators)]
    rng.shuffle(counts)
    expected = {}
    for i in range(n_creators):
        niche = list(NICHES)[i % len(NICHES)]
        username = f"{niche}_{rng.choice(['daily', 'with', 'by'])}.c{i:05d}"
        user = _user(rng, username, niche, i)
        posts = [_post(rng, username, niche, j, t)
                 for j, t in enumerate(_taken_ats(rng, epoch, counts[i]))]
        d = os.path.join(root, username)
        os.makedirs(d)
        with open(os.path.join(d, "userInfo.json"), "w") as fh:
            json.dump({"data": {"user": user}, "status": "ok"}, fh)
        with open(os.path.join(d, "postInfo.json"), "w") as fh:
            json.dump({"data": {"xdt_api__v1__feed__user_timeline_graphql_connection": {
                "edges": posts, "page_info": {"has_next_page": False}}},
                "status": "ok"}, fh)
        if not user["is_private"]:
            expected[username] = _expected(user, posts, cutoff)
    return expected, sum(counts)


def read_json_lines(out_dir: str) -> list[dict]:
    """Rows of the analyzed-JSON output (one JSON object per line)."""
    rows = []
    for path in sorted(glob.glob(os.path.join(out_dir, "part-*.json"))):
        with open(path) as fh:
            rows.extend(json.loads(line) for line in fh if line.strip())
    return rows


def check_report(rows: list[dict], expected: dict) -> list[str]:
    """Compare collected report rows with the generator's values; return
    one message per mismatch."""
    errors = []
    got = {r["username"]: r for r in rows}
    if len(rows) != len(expected) or set(got) != set(expected):
        errors.append(f"report rows {len(rows)} != public creators {len(expected)}")
    for name, exp in expected.items():
        row = got.get(name)
        if row is None:
            continue
        for key, want in exp.items():
            have = row[key]
            if have in want if isinstance(want, frozenset) else have == want:
                continue
            errors.append(f"{name}.{key}: {have!r} != {want!r}")
    return errors[:20]


def check_files(csv_dir: str, txt_dir: str, headers: list[str], expected: dict) -> list[str]:
    """Wide-CSV header and per-creator text files."""
    errors = []
    parts = sorted(glob.glob(os.path.join(csv_dir, "part-*.csv")))
    if not parts:
        errors.append(f"no CSV part files in {csv_dir}")
    for p in parts:
        with open(p, newline="") as fh:
            header = next(csv.reader(fh), None)
        if header is not None and header != list(headers):
            errors.append(f"CSV header of {os.path.basename(p)} differs from HEADERS")
            break
    txt = {os.path.basename(p)[: -len("_analysis.txt")]
           for p in glob.glob(os.path.join(txt_dir, "*_analysis.txt"))}
    if txt != set(expected):
        errors.append(f"{len(txt)} text reports for {len(expected)} public creators")
    return errors
