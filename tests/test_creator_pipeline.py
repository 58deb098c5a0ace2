"""End-to-end tests of the reference-shaped creator pipeline over
FIXTURES.md-style synthetic userInfo/postInfo JSON documents."""

from __future__ import annotations

import datetime as dt
import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from ig_etl_with_user_reports_2024_spark.plans import creator_report as cr
from ig_etl_with_user_reports_2024_spark.plans import wide_csv as wc

AS_OF = dt.datetime(2025, 9, 7)
EPOCH = int(AS_OF.timestamp())
DAY = 86400


def _post(i, taken_at, likes, comments, caption="", **kw):
    node = {
        "id": f"p{i}",
        "pk": f"pk{i}",
        "code": f"C{i}",
        "taken_at": taken_at,
        "caption": {"text": caption, "created_at": taken_at, "pk": f"c{i}", "has_translation": False},
        "like_count": likes,
        "comment_count": comments,
        "share_count": None,
        "view_count": None,
        "product_type": kw.get("product_type", "feed"),
        "media_type": 1,
        "is_paid_partnership": kw.get("is_paid", False),
        "sponsor_tags": kw.get("sponsor_tags"),
        "owner": {"username": kw.get("owner", None), "pk": "o1"} if kw.get("owner") else None,
        "user": {"username": kw["username"]},
        "coauthor_producers": [{"username": c} for c in kw.get("coauthors", [])] or None,
        "location": {"pk": "l1", "lat": 1.0, "lng": 2.0, "name": kw.get("location")} if kw.get("location") else None,
    }
    return {"node": node}


def _write_creator(root, username, user_fields, posts):
    d = root / username
    d.mkdir()
    (d / "userInfo.json").write_text(
        json.dumps({"data": {"user": user_fields}, "status": "ok"})
    )
    (d / "postInfo.json").write_text(
        json.dumps(
            {
                "data": {
                    "xdt_api__v1__feed__user_timeline_graphql_connection": {
                        "edges": posts,
                        "page_info": {"has_next_page": False},
                    }
                },
                "status": "ok",
            }
        )
    )


@pytest.fixture(scope="module")
def fixture_dirs(tmp_path_factory):
    root = tmp_path_factory.mktemp("creators")

    # alice.ugc — UGC creator, she/her, email+phone, growing trend,
    # one #ad post mentioning @brandco, 12 posts all within 90 days
    alice_posts = [
        _post(
            i,
            EPOCH - (i + 1) * DAY,
            1000 - i * 80 if i < 6 else 100,  # newer posts much higher → Growing
            20,
            caption=("love this #fitness #gym look @brandco #ad" if i == 2 else f"daily post {i} #fitness"),
            username="alice.ugc",
            product_type="clips" if i % 2 == 0 else "feed",
            location="Austin" if i % 3 == 0 else None,
        )
        for i in range(12)
    ]
    _write_creator(
        root,
        "alice.ugc",
        {
            "username": "alice.ugc",
            "full_name": "Alice Anderson",
            "biography": "UGC creator | fitness & gym content\ncontact: alice@example.com or 512-555-1234",
            "follower_count": 5000,
            "following_count": 300,
            "media_count": 12,
            "is_private": False,
            "is_verified": False,
            "is_business": False,
            "category": "Digital creator",
            "external_url": None,
            "pronouns": ["she/her"],
            "bio_links": [{"url": "https://linktr.ee/alice"}, {"url": "https://www.tiktok.com/@alice"}],
            "profile_pic_url": None,
        },
        alice_posts,
    )

    # bob — private profile: must be filtered out (F6)
    _write_creator(
        root,
        "bob.private",
        {"username": "bob.private", "full_name": "Bob", "biography": "",
         "follower_count": 10, "following_count": 10, "media_count": 1,
         "is_private": True, "is_verified": False, "is_business": False,
         "category": None, "external_url": None, "pronouns": [],
         "bio_links": [], "profile_pic_url": None},
        [_post(0, EPOCH - DAY, 1, 0, username="bob.private")],
    )

    # carol — Mega verified travel influencer, paid partnership, old posts
    carol_posts = [
        _post(
            i,
            EPOCH - (20 + i * 30) * DAY,  # some beyond 90d / 300d windows
            50000,
            500,
            caption=f"wanderlust adventures #travel post {i}",
            username="carol",
            is_paid=(i == 0),
            owner="luxhotels" if i == 1 else None,
            coauthors=["tourboard"] if i == 2 else [],
        )
        for i in range(8)
    ]
    _write_creator(
        root,
        "carol",
        {"username": "carol", "full_name": "Carol Chen Voyages",
         "biography": "travel & adventure | business inquiries: mgmt@carol.tv",
         "follower_count": 1_200_000, "following_count": 80, "media_count": 8,
         "is_private": False, "is_verified": True, "is_business": False,
         "category": "Public figure", "external_url": "https://carol.tv",
         "pronouns": [], "bio_links": [{"url": "https://youtube.com/@carol"}],
         "profile_pic_url": None},
        carol_posts,
    )
    return str(root)


@pytest.fixture(scope="module")
def report(spark, fixture_dirs):
    users = cr.load_users(spark, f"{fixture_dirs}/*/userInfo.json")
    posts = cr.load_posts(spark, f"{fixture_dirs}/*/postInfo.json")
    return cr.creator_report(spark, users, posts, as_of=AS_OF)


def test_private_profile_filtered(report):
    assert set(r.username for r in report.select("username").collect()) == {
        "alice.ugc",
        "carol",
    }


def test_classifiers(report):
    rows = {r.username: r for r in report.collect()}
    a, c = rows["alice.ugc"], rows["carol"]
    assert a.creator_size == "Micro-Influencer"  # 5000 followers
    assert a.creator_type == "UGC Creator"
    assert a.tier == "Experienced"
    assert a.gender == "Female"  # pronouns path
    assert a.email == "alice@example.com"
    assert a.phone_number == "5125551234"  # separators stripped (:1697)
    assert a.overall_niche == "Fitness"
    assert a.social_links.tiktok and a.social_links.linktree
    assert a.social_links.youtube is None
    assert c.creator_size == "Mega-Influencer"
    assert c.ig_account_type == "creator"  # 'public figure'? no — verified & >50k
    assert c.overall_niche == "Travel"
    assert c.social_links.youtube


def test_engagement_metrics_hand_computed(report):
    rows = {r.username: r for r in report.collect()}
    a = rows["alice.ugc"]
    likes = [1000 - i * 80 if i < 6 else 100 for i in range(12)]
    # A4 avg likes = Python round(mean) — integer (analyze:445)
    assert a.avg_likes == round(sum(likes) / 12)
    # A2/K1: all posts within 90d; top-6 by interaction (likes+5*20);
    # per-post ER rounded to 2dp FIRST, then mean, then 2dp (:1529-1543)
    top6 = sorted((l + 100 for l in likes), reverse=True)[:6]
    expected_er = round(sum(round(x / 5000 * 100, 2) for x in top6) / 6, 2)
    assert abs(a.average_engagement_rate - expected_er) < 0.01
    # A12 trend: first half (newer) likes ≫ second half → Growing
    assert a.engagement_trend == "Growing"
    # exactly-1.0-day gaps: the reference's '<1' daily threshold excludes
    # 1.0, so this lands in 'Every other day' (C4 faithful)
    assert a.post_frequency == "Every other day"


def test_collaboration_cascade(report):
    rows = {r.username: r for r in report.collect()}
    assert rows["carol"].collaboration_status == "Active"
    assert rows["carol"].collaboration_status_detail == "Paid Partnership"
    assert rows["alice.ugc"].collaboration_status == "Active"
    assert rows["alice.ugc"].collaboration_status_detail == "Sponsored Content"
    carol_collabs = {c.name: c.source for c in rows["carol"].all_collaborations}
    assert carol_collabs.get("luxhotels") == "owner"
    assert carol_collabs.get("tourboard") == "coauthor"
    assert rows["carol"].recent_collaborations >= 0  # count (reference :1496)


def test_top_hashtags_window(report):
    rows = {r.username: r for r in report.collect()}
    a_tags = rows["alice.ugc"].hashtags_last_90_days
    assert a_tags["fitness"] == 12
    # carol's posts are 20+ days old but some inside 90d window
    assert rows["carol"].hashtags_last_90_days is not None


def test_fake_follower_and_pricing(report):
    rows = {r.username: r for r in report.collect()}
    c = rows["carol"]
    # carol: ER = (50000+500)/1.2M*100 ≈ 4.2 → no ER indicator;
    # followers>10k & following<100 & ER>1 → no indicator 2
    assert c.fake_follower_score == 0
    assert c.engagement_quality == "Good"
    assert c.creator_type == "Social Media Influencer"
    assert c.tier == "500K-1M+"
    assert c.time_60_seconds == 4000
    assert c.estimated_roi == "3×–6×"
    a = rows["alice.ugc"]
    assert a.time_60_seconds == 300  # UGC Experienced base
    assert a.time_1_to_5_minutes == 400  # round(1.333*300)


def test_sinks(report, tmp_path, spark):
    out_json = str(tmp_path / "analyzed_json")
    out_csv = str(tmp_path / "wide_csv")
    out_txt = str(tmp_path / "txt")
    cr.write_analyzed_json(report, out_json)
    wc.sanitize_and_write(wc.flatten_report(report), out_csv)
    cr.write_txt_reports(report, out_txt)
    back = spark.read.json(out_json)
    assert back.count() == 2
    csv_files = glob.glob(f"{out_csv}/*.csv")
    assert csv_files
    header = open(csv_files[0]).readline()
    assert "username" in header and "average_engagement_rate" in header
    txts = sorted(os.listdir(out_txt))
    assert "alice.ugc_analysis.txt" in txts
    body = open(os.path.join(out_txt, "alice.ugc_analysis.txt")).read()
    assert "CREATOR ANALYSIS: alice.ugc" in body
    assert "Report Generated: 2025-09-07" in body


def _plan_nodes(plan):
    """Node names of a physical plan, descending through adaptive plans
    and their query stages but not into a cached relation's stored plan
    (InMemoryTableScan is a leaf: the plan it reads sits behind the
    cache, not under it)."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        return _plan_nodes(plan.executedPlan())
    if name.endswith("QueryStage"):
        return [name] + _plan_nodes(plan.plan())
    names = [name]
    children = plan.children()
    for i in range(children.size()):
        names += _plan_nodes(children.apply(i))
    return names


def test_sinks_read_the_cached_report(report, tmp_path):
    # one report execution per pass: the first sink runs the join plan
    # and fills the report's cache; a later sink's plan is a scan of that
    # cache plus its own projection — no join or exchange of the report
    cr.write_analyzed_json(report, str(tmp_path / "analyzed_json"))
    flat = wc.flatten_report(report)
    assert len(flat.collect()) == 2
    nodes = _plan_nodes(flat._jdf.queryExecution().executedPlan())
    assert "InMemoryTableScan" in nodes, nodes
    assert not [n for n in nodes if "Join" in n or "Exchange" in n], nodes


def test_wide_csv_flatten(report, tmp_path, spark):
    flat = wc.flatten_report(report)
    assert [f.name for f in flat.schema.fields] == wc.HEADERS
    rows = {r.username: r for r in flat.collect()}
    a = rows["alice.ugc"]
    assert a.primary_social_link == "https://www.instagram.com/alice.ugc"
    assert a.post1_interaction_score != ""  # top post pivoted
    assert a.post1_url == "https://www.instagram.com/p//"  # Q2-style quirk
    assert a.age == "" and a.bio_location == "" and a.source == ""  # dead cols
    assert a.niche_overall == "Fitness"
    assert '"Fitness"' in a.niche_confidence_scores
    assert a.raw_analysis.startswith("{")
    out = str(tmp_path / "wide")
    wc.sanitize_and_write(flat, out)
    import glob as g

    files = g.glob(f"{out}/*.csv")
    assert files
    header = open(files[0]).readline().strip().split(",")
    assert header == wc.HEADERS
    stats = wc.platform_stats(report).collect()[0]
    assert stats.total_creators == 2
    assert stats.creators_with_tiktok == 1
    assert stats.creators_with_linktree == 1


def test_location_cities_join(spark, fixture_dirs):
    # J2 with a VALID cities dim (the reference's dim never loads — Q1;
    # the engine implements the join properly behind the optional param)
    from ig_etl_with_user_reports_2024_spark.plans import creator_report as cr

    users = cr.load_users(spark, f"{fixture_dirs}/*/userInfo.json")
    posts = cr.load_posts(spark, f"{fixture_dirs}/*/postInfo.json")
    cities = spark.createDataFrame(
        [("austin", "TX", 1), ("boston", "MA", 2), ("aus", "XX", 3)],
        "city string, state_id string, ord int",
    )
    followers = users.select("username", "follower_count")
    feat = cr.per_post_features(posts, followers, AS_OF)
    loc = cr.creator_tokens(feat, cities=cities)
    rows = {r.username: r for r in loc.collect()}
    matched = {m.input_location: (m.matched_city, m.state) for m in rows["alice.ugc"].matched_us_cities}
    # 'Austin' matches both 'austin' and 'aus' (substring) — first match
    # in dim order wins (Q10)
    assert matched.get("Austin") == ("austin", "TX")


def test_set_valued_columns_keep_first_seen_order(spark, tmp_path):
    # brand_mentions and sponsor_frequency list their tokens in
    # first-seen (pos, caption index) order — the reference's Counter
    # insertion order — and location_hashtags (a set in the reference)
    # renders sorted. In the fixture the first-seen orders are not the
    # alphabetical ones and the more frequent tokens are seen later, so
    # neither a sort nor a count ranking can pass for them.
    posts = [
        _post(
            0,
            EPOCH - DAY,
            10,
            1,
            caption="#zurichtrip with @zeta and @mid",
            username="dora",
            sponsor_tags=[{"username": "zed"}, {"username": "abe"}],
        ),
        _post(
            1,
            EPOCH - 2 * DAY,
            10,
            1,
            caption="#aspentown @alpha @mid @alpha @instagram",
            username="dora",
            sponsor_tags=[{"username": "abe"}, {"username": "kim"}],
        ),
        _post(
            2,
            EPOCH - 3 * DAY,
            10,
            1,
            caption="#mountainpark @alpha",
            username="dora",
            sponsor_tags=[{"username": "abe"}],
        ),
    ]
    _write_creator(
        tmp_path,
        "dora",
        {"username": "dora", "full_name": "Dora", "biography": "",
         "follower_count": 100, "following_count": 10, "media_count": 3,
         "is_private": False, "is_verified": False, "is_business": False,
         "category": None, "external_url": None, "pronouns": [],
         "bio_links": [], "profile_pic_url": None},
        posts,
    )
    users = cr.load_users(spark, f"{tmp_path}/*/userInfo.json")
    posts_df = cr.load_posts(spark, f"{tmp_path}/*/postInfo.json")
    rep = cr.creator_report(spark, users, posts_df, as_of=AS_OF)
    # map entry order read JVM-side: collect()'s dict keeps no order
    row = rep.select(
        "brand_mentions",
        F.map_entries("sponsor_frequency").alias("sponsors"),
        "n_unique_sponsors",
        "location_hashtags",
    ).collect()[0]
    assert row.brand_mentions == ["zeta", "mid", "alpha"]
    assert [(e.key, e.value) for e in row.sponsors] == [
        ("zed", 1), ("abe", 3), ("kim", 1),
    ]
    assert row.n_unique_sponsors == 3
    assert row.location_hashtags == ["aspentown", "mountainpark", "zurichtrip"]


def test_successive_report_calls_release_caches_and_stay_correct(
    spark, fixture_dirs
):
    # each creator_report call releases the PREVIOUS call's persisted
    # handles — users/feat/keys and the final report itself
    # (bounded cache lifecycle) — both calls must produce identical,
    # correct results even though the second call unpersists the first's
    # caches
    def persistent_rdds():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    users = cr.load_users(spark, f"{fixture_dirs}/*/userInfo.json")
    posts = cr.load_posts(spark, f"{fixture_dirs}/*/postInfo.json")
    first = cr.creator_report(spark, users, posts, as_of=AS_OF)
    rows1 = {r.username: r.follower_count for r in first.collect()}
    after_one = persistent_rdds()
    second = cr.creator_report(spark, users, posts, as_of=AS_OF)
    rows2 = {r.username: r.follower_count for r in second.collect()}
    assert rows1 == rows2 and len(rows1) > 0
    # the second call's caches replace the first's; none of them linger,
    # and the first report's own pin is the one that was released
    assert persistent_rdds() == after_one
    assert not first.is_cached and second.is_cached
    # the first DF still computes correctly after its caches released
    assert {r.username: r.follower_count for r in first.collect()} == rows1


# --- property-based: hashtags/mentions top-10 vs the reference's dict
# semantics (locks in the kind-tagged union explode of every token
# family, whose Q10 tie-break rests on the combined posexplode index
# shifting each kind by a per-post constant) ---------------------------

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _HAS_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAS_HYPOTHESIS = False

if _HAS_HYPOTHESIS:
    from pyspark.sql import functions as F

    from ig_etl_with_user_reports_2024_spark import dims as _dims
    from ig_etl_with_user_reports_2024_spark.plans import (
        creator_report as _cr,
    )

    # small vocab so count ties are common (the tie-break is the point);
    # includes <3-char and stoplisted tokens to exercise the mention
    # filters
    _VOCAB = ["alpha", "beta", "gamma", "ab", "you", "delta"]
    _posts = st.lists(
        st.tuples(
            st.lists(st.sampled_from(_VOCAB), max_size=4),  # hashtags
            st.lists(st.sampled_from(_VOCAB + ["Alpha"]), max_size=4),
            st.booleans(),                                   # recent?
        ),
        min_size=1,
        max_size=8,
    )

    def _brute_top10(posts, kind):
        # reference semantics (analyze_insta_enhanced.py:1557-1609):
        # Python count-dict in (post arrival, caption position) order,
        # sort by count desc (dict order breaks ties = first insertion)
        counts = {}
        for tags, mentions, recent in posts:
            if not recent:
                continue
            toks = tags if kind == "h" else [
                m.lower()
                for m in mentions
                if len(m) >= 3 and m.lower() not in _dims.MENTION_STOPLIST
            ]
            for t in toks:
                counts[t] = counts.get(t, 0) + 1
        ordered = sorted(counts.items(), key=lambda kv: -kv[1])
        return dict(ordered[:10])

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(posts=_posts)
    def test_hashtags_mentions_match_reference_dict_semantics(spark, posts):
        rows = [
            ("u", i, tags, mentions, recent)
            for i, (tags, mentions, recent) in enumerate(posts)
        ]
        feat = spark.createDataFrame(
            rows,
            "username string, pos long, hashtags array<string>, "
            "mentions array<string>, is_recent_90d boolean",
        )
        # read entry ORDER JVM-side (map_entries): the engine's map is
        # rank-ordered (and to_json renders it so), but collect()'s
        # MapType→dict conversion does not preserve entry order
        # the other token families ride the same explode; empty here
        feat = feat.withColumns(
            {
                **{
                    c: F.array().cast("array<string>")
                    for c in ("sponsor_users", "mentions_w", "city_candidates")
                },
                "location_name": F.lit(None).cast("string"),
            }
        )
        out = (
            _cr.creator_tokens(feat)
            .select(
                F.map_entries("hashtags_last_90_days").alias("h"),
                F.map_entries("mentions_last_90_days").alias("m"),
            )
            .collect()
        )
        got_h = [(e.key, e.value) for e in out[0].h] if out else []
        got_m = [(e.key, e.value) for e in out[0].m] if out else []
        want_h, want_m = _brute_top10(posts, "h"), _brute_top10(posts, "m")
        assert got_h == list(want_h.items())
        assert got_m == list(want_m.items())
