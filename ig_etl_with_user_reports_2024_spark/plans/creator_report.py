"""The creator-report pipeline — the reference's main query (SURVEY.md §3.1
+ §3.2) as one declarative Spark plan, label- and formula-exact to the
reference (golden parity tested against /root/reference's checked-in
analyzed.json in tests/test_golden_reference.py).

Reference shape: ``run_analysis`` (analyze_insta_enhanced.py:1936-2025)
loads two JSON docs per creator and fans out to ~18 Python functions,
re-scanning the in-memory post list ~10×, one creator at a time.

Spark shape (SURVEY.md §3.1 "rebuild lifecycle"), one projection per
step (never a withColumn chain):

    read users docs (persisted)
      ├─ profile select (X1/X2/C1/C7/C8)
      └─ ONE explode of (token, weight) ⋈ niche dim → ONE aggregation
         (primary niche, confidences, distribution — C9/A10)
    read posts docs → repartition(username) → posexplode(edges) →
      per-post feature projection, persisted; every consumer below
      keeps its username partitioning (no further exchange):
      ├─ ONE window select + ONE groupBy with every aggregate (A4-A14,
      │  top-6, C13 timeline) + ONE withColumns tail
      ├─ hour histogram → ONE creator-grain agg (K4 modal hour, posting
      │  pattern, timezone estimate)
      ├─ ONE kind-tagged posexplode of every token family (hashtags/
      │  mentions, sponsors/brands, locations) → (username, kind, token)
      │  count + first (pos, idx) → ONE creator-grain agg
      └─ collab keys (persisted) → collaborations (C12), UGC (K6)
    fan-in: profile ⋈ the five creator-grain branches (J3) → ONE select
      → broadcast pricing dim (C3) → classifier columns (C2-C14) in ONE
      withColumns → ER-desc sort → persist the finished report (lazy:
      the first sink runs the joins once and fills the cache)
      └─ sinks, each reading the cached sorted report: analyzed JSON
         (S4), txt (S6), wide CSV (S5 — plans/wide_csv.py)

Every date window takes a pinned ``as_of`` (Q8); every order-sensitive
step carries the arrival-order ``pos`` column (Q10); Python round() maps
to bround (Q11); the trend halves split at n//2 in arrival order (Q7);
``compat_q6`` preserves the reference's mixed-window fake-follower
divisor (Q6) — pass False for the fixed semantics.
"""

from __future__ import annotations

import datetime as dt

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import dims
from ..config import AS_OF_REFERENCE, COLLAB_RECENT_DAYS, FAKE_FOLLOWER_SLICE, RECENT_DAYS
from ..functions.pyround import rounder
from ..functions.text import MENTION_RE, bio_tokens, username_tokens
from ..schemas import POST_DOC_SCHEMA, USER_DOC_SCHEMA
from ..sources.readers import read_json_docs

# exact hashtag pattern of the 90-day analysis (analyze_insta_enhanced.py:1591)
HASHTAG90_RE = r"#([A-Za-z0-9_]+)"

# --------------------------------------------------------------------------
# Ingest (S2/S3): whole-doc JSON → normalized users / posts DataFrames.
# --------------------------------------------------------------------------


def load_users(spark: SparkSession, glob_path: str) -> DataFrame:
    """userInfo.json docs → one row per creator.

    Reference: load at analyze_insta_enhanced.py:1713; private/empty
    filter F6 (insta_scraper_enhanced.py:144-151) applied here.
    """
    docs = read_json_docs(spark, glob_path, USER_DOC_SCHEMA)
    u = docs.select(F.col("data.user.*"), F.col("_source_file"))
    return u.filter(~F.coalesce(F.col("is_private"), F.lit(True)))


def load_posts(spark: SparkSession, glob_path: str) -> DataFrame:
    """postInfo.json docs → one row per post with creator key + arrival pos.

    Reference: edges access analyze_insta_enhanced.py:408,1505,1735.
    ``posexplode`` keeps the API delivery order (newest-first) as ``pos``
    — the Q10 arrival-order column everything downstream relies on.
    """
    docs = read_json_docs(spark, glob_path, POST_DOC_SCHEMA)
    edges = docs.select(
        F.col("_source_file"),
        F.posexplode(
            F.col("data.xdt_api__v1__feed__user_timeline_graphql_connection.edges")
        ).alias("pos", "edge"),
    )
    # the creator key is the DIRECTORY name, not any per-post field — a
    # collab post's node.user/owner can be another account, but the
    # reference attributes every edge in the dir to the dir's creator
    # (analyze_insta_enhanced.py:1706-1714)
    return edges.select(
        F.regexp_extract(F.col("_source_file"), r"([^/]+)/postInfo\.json", 1).alias(
            "username"
        ),
        "pos",
        F.col("edge.node.*"),
    )


def _any_contains(text: Column, terms: list[str]) -> Column:
    out = None
    for t in terms:
        hit = text.contains(t)
        out = hit if out is None else (out | hit)
    return out


# --------------------------------------------------------------------------
# Per-post feature projection (build plan §7.2 step 3) — zero shuffles.
# --------------------------------------------------------------------------


def per_post_features(
    posts: DataFrame,
    followers: DataFrame,
    as_of: dt.datetime,
    tz_offset_min: int = 0,
) -> DataFrame:
    """One ``select`` computing every per-post derived column.

    The reference computes these across ~10 separate passes; columns:
    - timestamps/hour (X5: analyze_insta_enhanced.py:173-174,438-439)
    - three ER formulas (A1-A3/Q5: :433, :1519-1523, :523)
    - window flags: 90-day recent (F2 :1502), 300-day collab-recent (F3 :1282)
    - clips/paid flags (F4/F5 :1149,:1153)
    - sponsored detector (C13 :581-601): caption indicator OR sponsor_tags
    - hashtags/mentions arrays (X1 :1591-1602)
    - collaboration source flags (C12 :1316-1426)
    """
    cutoff_recent = int(as_of.timestamp()) - RECENT_DAYS * 86400
    cutoff_collab = int(as_of.timestamp()) - COLLAB_RECENT_DAYS * 86400
    # the reference renders hours/dates with machine-local
    # datetime.fromtimestamp (Q8); the engine pins UTC and exposes the
    # offset as data (the golden run was UTC+5:45 — Asia/Kathmandu)
    local_epoch = F.col("taken_at") + F.lit(tz_offset_min * 60)

    p = posts.join(F.broadcast(followers), "username", "left")
    cap = F.coalesce(F.col("caption.text"), F.lit(""))
    cap_lower = F.lower(cap)
    likes = F.coalesce(F.col("like_count"), F.lit(0))
    comments = F.coalesce(F.col("comment_count"), F.lit(0))
    shares = F.coalesce(F.col("share_count"), F.lit(0))
    fol_raw = F.coalesce(F.col("follower_count"), F.lit(0))
    fol_guard = F.greatest(fol_raw, F.lit(1))  # max(follower_count, 1) :433

    is_sponsored = _any_contains(
        cap_lower, [t.lower() for t in dims.SPONSOR_CAPTION_TERMS]
    ) | (F.size(F.coalesce(F.col("sponsor_tags"), F.array())) > 0)

    # UGC keyword in caption, plain or #hashtag-collapsed (:866)
    ugc_caption = _any_contains(
        cap_lower,
        [k for k in dims.UGC_KEYWORDS] + [f"#{k.replace(' ', '')}" for k in dims.UGC_KEYWORDS],
    )

    ad_collab = cap_lower.contains("#ad") | cap_lower.contains("#collab")
    foreign_owner = F.col("owner.username").isNotNull() & (
        F.col("owner.username") != F.col("username")
    )
    foreign_coauthors = F.filter(
        F.coalesce(F.col("coauthor_producers"), F.array()),
        lambda c: c["username"] != F.col("username"),
    )

    return p.select(
        "username",
        "pos",
        "id",
        "code",
        "taken_at",
        F.timestamp_seconds(F.col("taken_at")).alias("taken_ts"),
        F.hour(F.timestamp_seconds(local_epoch)).alias("post_hour"),
        F.date_format(F.timestamp_seconds(local_epoch), "yyyy-MM-dd").alias(
            "taken_date"
        ),
        likes.alias("likes"),
        comments.alias("comments"),
        shares.alias("shares"),
        fol_raw.alias("follower_count"),
        "product_type",
        "media_type",
        cap.alias("caption_text"),
        # A1 'engagement score' — (likes + comments*2)/max(fol,1)*100 (:433)
        ((likes + comments * 2) / fol_guard * 100).alias("er_engagement"),
        # A2 'interaction score' (5×) + its ER (:1519-1523; raw-follower div)
        (likes + 5 * comments).alias("interaction_score"),
        F.when(fol_raw > 0, (likes + 5 * comments) / fol_raw * 100).alias(
            "er_interaction"
        ),
        # A3 plain latest-posts ER — 0 when no followers (:522-525)
        F.when(fol_raw > 0, (likes + comments) / fol_raw * 100)
        .otherwise(0.0)
        .alias("er_latest"),
        (likes + comments).alias("total_engagement"),
        (F.col("taken_at") >= cutoff_recent).alias("is_recent_90d"),
        (F.col("taken_at") >= cutoff_collab).alias("is_recent_300d"),
        (F.col("product_type") == "clips").alias("is_clips"),
        F.coalesce(F.col("is_paid_partnership"), F.lit(False)).alias("is_paid"),
        is_sponsored.alias("is_sponsored"),
        ugc_caption.alias("has_ugc_caption"),
        ad_collab.alias("has_ad_collab_tag"),
        foreign_owner.alias("has_foreign_owner"),
        F.col("owner.username").alias("owner_username"),
        foreign_coauthors["username"].alias("foreign_coauthors"),
        F.transform(
            F.regexp_extract_all(cap, F.lit(HASHTAG90_RE), F.lit(1)), F.lower
        ).alias("hashtags"),
        F.regexp_extract_all(cap, F.lit(MENTION_RE), F.lit(1)).alias("mentions"),
        # partnership brand-mentions use the plain-\w pattern (:605)
        F.regexp_extract_all(cap, F.lit(r"@(\w+)"), F.lit(1)).alias("mentions_w"),
        F.col("location.name").alias("location_name"),
        F.col("user.username").alias("user_username"),
        F.coalesce(
            F.col("coauthor_producers"),
            F.array().cast("array<struct<username:string>>"),
        ).alias("coauthors_raw"),
        F.transform(
            F.coalesce(F.col("sponsor_tags"), F.array()), lambda s: s["username"]
        ).alias("sponsor_users"),
        F.col("sponsor_tags").isNull().alias("sponsor_tags_null"),
        # capitalized city-like candidates (:165)
        F.regexp_extract_all(
            cap, F.lit(r"\b([A-Z][a-z]{2,}(?:\s+[A-Z][a-z]{2,})?)\b"), F.lit(1)
        ).alias("city_candidates"),
    )


# --------------------------------------------------------------------------
# Per-creator aggregation core (build plan §7.2 step 4) — one exchange.
# --------------------------------------------------------------------------


def creator_post_aggregates(
    feat: DataFrame,
    as_of: dt.datetime,
    compat_q6: bool = True,
    python_rounding: bool = False,
) -> DataFrame:
    """Every per-creator aggregate in ONE groupBy over window-annotated
    rows; the windows share the username hash partitioning, so the whole
    stage is a single exchange (vs ~10 per-creator list scans).

    Formula fidelity (analyze_insta_enhanced.py):
    - avg_likes/comments/shares = Python round(mean) → bround 0dp (:445-447)
    - engagement_rate = round((Σ(l+c)/n)/followers*100, 2) (:451)
    - consistency = round(max(0, 100-σ/max(μ,0.1)*100), 1) over the A1
      engagement scores (:455-458)
    - viral = count(score > 2μ) over A1 scores (:461-462)
    - trend halves split at n//2 in arrival order (Q7, :501-504)
    - latest-6 ER: per-post round 2dp; avg over UNROUNDED sum, 3dp (:514-531)
    - top-6: per-post ER rounded 2dp FIRST, then mean of rounded, 2dp
      (:1525-1543) — within the 90-day window
    - Q6 divisor: first-20 sums over len(all) (compat_q6=True, :267-277)
    - top_6_posts list (:1502-1543): folded into this same groupBy —
      ``recent_score_rank`` already orders by (90-day interaction score
      desc, pos), exactly the top-6 window, so the rendered list rides
      a conditional collect_list instead of a second window + groupBy
      pass over the feature table
    - C13 partnership scalars + collaboration timeline (:540-684): the
      sponsored/organic means were already computed here (A13); the
      timeline collect and the crash flag (:663-667) join them, so the
      whole per-creator slice of detect_paid_partnerships is this one
      aggregation (the explode-grain sponsor/brand lists ride
      creator_tokens)

    python_rounding: route rounded columns through the CPython-exact
    pandas UDF (functions/pyround.py) for golden-file bit parity; the
    default is JVM bround (see pyround's docstring for why they differ).
    """
    rnd = rounder(python_rounding)
    w_time = Window.partitionBy("username").orderBy(
        F.col("taken_at").desc(), F.col("pos").asc()
    )
    w_part = Window.partitionBy("username")
    w_arrival = Window.partitionBy("username").orderBy(F.col("pos").asc())
    w_recent = Window.partitionBy("username").orderBy(
        F.when(F.col("is_recent_90d"), F.col("interaction_score"))
        .otherwise(F.lit(None))
        .desc_nulls_last(),
        F.col("pos").asc(),
    )

    annotated = feat.select(
        "*",
        F.row_number().over(w_time).alias("time_rank"),
        # Q7: recent half = first n//2 rows in arrival order (:502-504)
        (
            F.row_number().over(w_arrival)
            <= F.floor(F.count("*").over(w_part) / 2)
        ).alias("is_recent_half"),
        (
            (
                F.col("taken_at").cast("double")
                - F.lag(F.col("taken_at"), -1).over(w_time).cast("double")
            )
            / 86400.0
        ).alias("gap_days"),
        F.row_number().over(w_recent).alias("recent_score_rank"),
        # viral threshold: the creator mean must exist BEFORE the groupBy
        # (window functions cannot nest inside aggregates)
        F.avg("er_engagement").over(w_part).alias("_mean_score"),
        # per-post top-6 ER is rounded FIRST (:1529) — row-level, so the
        # compat UDF is usable here
        rnd(F.col("er_interaction"), 2).alias("_er_int_r"),
    )

    slice20 = F.col("pos") < FAKE_FOLLOWER_SLICE
    q6_div = F.count("*") if compat_q6 else F.sum(F.when(slice20, 1).otherwise(0))

    top6_er = F.when(
        (F.col("recent_score_rank") <= 6) & F.col("is_recent_90d"),
        F.col("_er_int_r"),
    )

    agg = annotated.groupBy("username").agg(
        F.count("*").alias("n_posts"),
        F.first("follower_count").alias("_fol"),
        # A4 (:444-452) — raw means; rounding happens post-agg (a scalar
        # UDF cannot wrap an aggregate inside agg())
        F.avg("likes").alias("_avg_likes_raw"),
        F.avg("comments").alias("_avg_comments_raw"),
        F.avg("shares").alias("_avg_shares_raw"),
        F.sum("total_engagement").alias("_total_eng"),
        F.avg("total_engagement").alias("_avg_eng_raw"),
        # A5/A6 over A1 scores (:455-462)
        F.stddev_samp("er_engagement").alias("_score_stddev"),
        F.avg("er_engagement").alias("_score_mean"),
        # A11 (:465-473)
        F.avg("gap_days").alias("_avg_gap_days"),
        # A12 trend means (:501-511)
        F.avg(F.when(F.col("is_recent_half"), F.col("likes"))).alias("_recent_mean"),
        F.avg(F.when(~F.col("is_recent_half"), F.col("likes"))).alias("_older_mean"),
        # A13 (:643-657)
        F.avg(F.when(F.col("is_sponsored"), F.col("total_engagement"))).alias(
            "sponsored_avg_engagement"
        ),
        F.avg(F.when(~F.col("is_sponsored"), F.col("total_engagement"))).alias(
            "organic_avg_engagement"
        ),
        F.sum(F.when(F.col("is_sponsored"), 1).otherwise(0)).alias("sponsored_posts"),
        # K1 top-6 (:1525-1543)
        F.avg(top6_er).alias("_aer_raw"),
        F.sum(F.when(F.col("is_recent_90d"), 1).otherwise(0)).alias(
            "total_posts_last_3_months"
        ),
        # K2 latest-6 (:514-531)
        *[
            F.max(F.when(F.col("time_rank") == i, F.col("er_latest"))).alias(
                f"_post{i}_raw"
            )
            for i in range(1, 7)
        ],
        F.sum(F.when(F.col("time_rank") <= 6, F.col("er_latest"))).alias(
            "_latest6_er_sum"
        ),
        F.sum(F.when(F.col("time_rank") <= 6, 1)).alias("_latest6_n"),
        # Q6 inputs (:267-277)
        (F.sum(F.when(slice20, F.col("likes")).otherwise(0)) / q6_div).alias(
            "_ff_avg_likes"
        ),
        (F.sum(F.when(slice20, F.col("comments")).otherwise(0)) / q6_div).alias(
            "_ff_avg_comments"
        ),
        (
            F.sum(
                F.when(slice20, F.col("likes") + F.col("comments")).otherwise(0)
            )
            / q6_div
        ).alias("_ff_sum_eng_per_post"),
        # C12 flags
        F.max(F.col("is_paid")).alias("any_paid"),
        F.max(F.col("has_ad_collab_tag")).alias("any_ad_collab"),
        F.max(F.col("has_foreign_owner")).alias("any_foreign_owner"),
        F.max(F.size("foreign_coauthors") > 0).alias("any_foreign_coauthor"),
        F.max(F.col("has_ugc_caption")).alias("any_ugc_caption"),
        # A8 lives in creator_tokens (travel_frequency / diversity
        # come from the full location-candidate list there)
        F.sum(
            F.when(F.col("er_engagement") > 2 * F.col("_mean_score"), 1).otherwise(0)
        ).alias("viral_posts_count"),
        # K1 top-6 rendered list (:1502-1543): same rank as top6_er above;
        # zero-follower creators keep an empty list (:1508 — fol is
        # per-creator constant, so the filter cannot change ranks)
        F.array_sort(
            F.collect_list(
                F.when(
                    (F.col("recent_score_rank") <= 6)
                    & F.col("is_recent_90d")
                    & (F.col("follower_count") > 0),
                    F.struct(
                        "recent_score_rank", "interaction_score", "likes",
                        "comments", "_er_int_r", "code", "taken_date",
                    ),
                )
            )
        ).alias("_top6_raw"),
        # C13 timeline (:648-667): date-desc sorted sponsored posts; the
        # crash flag reproduces the reference's unguarded sponsor_tags
        # iteration (one null → except → timeline stays empty, score 0)
        F.reverse(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("is_sponsored"),
                        F.struct(
                            F.col("taken_date").alias("date"),
                            F.col("pos").alias("neg_pos"),
                            F.col("id").alias("post_id"),
                            F.col("sponsor_users").alias("sponsors"),
                            F.col("total_engagement").alias("engagement"),
                        ),
                    )
                )
            )
        ).alias("_timeline_raw"),
        F.max(F.col("is_sponsored") & F.col("sponsor_tags_null")).alias(
            "_timeline_crashed"
        ),
    )

    fol = F.col("_fol")
    engagement_rate = F.when(
        fol > 0, rnd(F.col("_total_eng") / F.col("n_posts") / fol * 100, 2)
    )
    consistency = F.when(
        F.col("n_posts") >= 2,
        rnd(
            F.greatest(
                F.lit(0.0),
                F.lit(100.0)
                - F.col("_score_stddev")
                / F.greatest(F.col("_score_mean"), F.lit(0.1))
                * 100.0,
            ),
            1,
        ),
    ).otherwise(0.0)
    trend = (
        F.when(F.col("n_posts") < 10, F.lit(None).cast("string"))
        .when(F.col("_recent_mean") > F.col("_older_mean") * 1.15, "Growing")
        .when(F.col("_recent_mean") < F.col("_older_mean") * 0.85, "Declining")
        .otherwise("Stable")
    )
    post_frequency = (
        F.when(F.col("_avg_gap_days").isNull(), F.lit(None).cast("string"))
        .when(F.col("_avg_gap_days") < 0.5, "Multiple times daily")
        .when(F.col("_avg_gap_days") < 1, "Daily")
        .when(F.col("_avg_gap_days") < 2, "Every other day")
        .when(F.col("_avg_gap_days") < 7, "Weekly")
        .when(F.col("_avg_gap_days") < 14, "Bi-weekly")
        .otherwise("Monthly or less")
    )
    avg_latest = F.when(
        F.col("_latest6_n") > 0,
        rnd(F.col("_latest6_er_sum") / F.col("_latest6_n"), 3),
    ).otherwise(0.0)
    # C13 scalars (:660-679): coalesced means, ratio over the coalesced
    # values (the > 0 guards make the coalesce a no-op for the ratio)
    avg_spon = F.coalesce(F.col("sponsored_avg_engagement"), F.lit(0.0))
    avg_org = F.coalesce(F.col("organic_avg_engagement"), F.lit(0.0))
    spon_ratio = F.when((avg_spon > 0) & (avg_org > 0), avg_spon / avg_org)
    return agg.withColumns(
        {
            "avg_likes": rnd(F.col("_avg_likes_raw"), 0).cast("long"),
            "avg_comments": rnd(F.col("_avg_comments_raw"), 0).cast("long"),
            "avg_shares": rnd(F.col("_avg_shares_raw"), 0).cast("long"),
            "avg_engagement_per_post": rnd(F.col("_avg_eng_raw"), 0).cast("long"),
            "engagement_rate": engagement_rate,
            "consistency_score": consistency,
            "engagement_trend": trend,
            "post_frequency": post_frequency,
            "avg_latest_posts_er": avg_latest,
            "average_engagement_rate": F.coalesce(
                rnd(F.col("_aer_raw"), 2), F.lit(0.0)
            ),
            **{f"post{i}_er": rnd(F.col(f"_post{i}_raw"), 2) for i in range(1, 7)},
            "top_6_posts": F.transform(
                "_top6_raw",
                lambda s: F.struct(
                    s["interaction_score"].alias("interaction_score"),
                    s["likes"].alias("likes"),
                    s["comments"].alias("comments"),
                    s["_er_int_r"].alias("engagement_rate"),
                    s["code"].alias("post_code"),
                    s["taken_date"].alias("taken_at"),
                ),
            ),
            # null (not []) when crashed OR no sponsored posts — the shape
            # the assembly and sinks expect
            "collaboration_timeline": F.when(
                ~F.col("_timeline_crashed") & (F.col("sponsored_posts") > 0),
                F.transform(
                    "_timeline_raw",
                    lambda s: F.struct(
                        s["date"].alias("date"),
                        s["post_id"].alias("post_id"),
                        s["sponsors"].alias("sponsors"),
                        s["engagement"].alias("engagement"),
                    ),
                ),
            ),
            "avg_sponsored_engagement": avg_spon,
            "avg_organic_engagement": avg_org,
            "total_sponsored_posts": F.col("sponsored_posts"),
            "sponsored_vs_organic_ratio": rnd(spon_ratio, 2),
            "sponsored_performs_better": F.coalesce(spon_ratio > 1.0, F.lit(False)),
        }
    ).drop(
        "_top6_raw",
        "_timeline_raw",
        "_recent_mean",
        "_older_mean",
        "_score_stddev",
        "_score_mean",
        "_avg_gap_days",
        "_latest6_er_sum",
        "_latest6_n",
        "_total_eng",
        "_aer_raw",
        "_avg_likes_raw",
        "_avg_comments_raw",
        "_avg_shares_raw",
        "_avg_eng_raw",
        *[f"_post{i}_raw" for i in range(1, 7)],
    )


def creator_posting_hours(feat: DataFrame) -> DataFrame:
    """Everything derived from the (username, post_hour) histogram, in
    one creator-grain aggregation over it:

    - A7 + K4 + C5 modal hour → daypart (analyze_insta_enhanced.py:
      489-498): Counter.most_common(1), ties = insertion (arrival) order
      (Q10) → (count desc, first pos, hour). Exact buckets: 6-11 Morning
      / 12-17 Afternoon / 18-22 Evening / Night;
    - the location module's posting-timezone pattern (hour → count in
      first-seen order) and the poster-archetype estimate from the mean
      hour of the top-5 hours (:205-240).
    """
    hours = feat.groupBy("username", "post_hour").agg(
        F.count("*").alias("cnt"), F.min("pos").alias("first_pos")
    )
    stats = hours.groupBy("username").agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.negative("cnt").alias("neg_cnt"), "first_pos", "post_hour")
            )
        ).alias("_by_count"),
        F.map_from_entries(
            F.transform(
                F.array_sort(F.collect_list(F.struct("first_pos", "post_hour", "cnt"))),
                lambda s: F.struct(s["post_hour"], s["cnt"]),
            )
        ).alias("posting_timezone_pattern"),
    )
    modal = F.col("_by_count")[0]["post_hour"]
    daypart = (
        F.when(modal.between(6, 11), "Morning (6-11 AM)")
        .when(modal.between(12, 17), "Afternoon (12-5 PM)")
        .when(modal.between(18, 22), "Evening (6-10 PM)")
        .otherwise("Night (11 PM-5 AM)")
    )
    top5 = F.slice("_by_count", 1, 5)
    avg_top_hour = F.aggregate(
        top5, F.lit(0.0), lambda acc, s: acc + s["post_hour"]
    ) / F.size(top5)
    tz_estimate = (
        F.when(avg_top_hour.between(6, 10), "Morning poster (likely local timezone)")
        .when(avg_top_hour.between(11, 15), "Afternoon poster (likely local timezone)")
        .when(avg_top_hour.between(16, 22), "Evening poster (likely local timezone)")
        .otherwise("Night poster (possible different timezone)")
    )
    return stats.select(
        "username",
        modal.alias("most_active_hour"),
        daypart.alias("best_posting_time"),
        "posting_timezone_pattern",
        tz_estimate.alias("timezone_estimate"),
    )


# the reference's 18 location-hashtag patterns (:148-158)
LOCATION_HASHTAG_PATTERNS = [
    r".*city$", r".*town$", r".*beach$", r".*park$", r".*street$",
    r".*travel$", r".*trip$", r".*vacation$", r".*holiday$",
    r"^nyc$", r"^la$", r"^sf$", r"^london$", r"^paris$", r"^tokyo$",
    r"^miami$", r"^vegas$", r"^chicago$", r"^boston$",
]


def creator_tokens(
    feat: DataFrame, cities: DataFrame | None = None, k: int = 10
) -> DataFrame:
    r"""Every token-family column of the report from ONE kind-tagged
    posexplode of the feature table, one (username, kind, token) grain
    carrying the count and the first (pos, idx), and one creator-grain
    aggregation:

    - 'h'/'m' — A7 + K3 top-10 hashtags and stoplist-filtered mentions
      over the 90-day window (analyze_insta_enhanced.py:1557-1609);
      Python dict-sort ties = first-seen order (Q10) → (count desc,
      first pos, first idx);
    - 's'/'b' — C13 sponsor-tag frequency map + unique-sponsor count, and
      brand mentions (plain-\w regex, platform names excluded) (:605-661),
      both in first-seen order (the reference's Counter order);
    - 'l'/'t' — the location module (:95-240): location tags + capitalized
      city candidates, first-occurrence dedup (the reference Counter()s
      the DEDUPED list, so every count is 1 and most_visited is simply
      the first 10 — quirk preserved), and location hashtags by the 18
      patterns, a set in the reference, rendered sorted;
    - the J2 first-match cities join (matched_us_cities) when a cities
      dim is supplied (the reference's dim never loads, Q1).

    The Q10 tie-breaks survive the concat: each kind's posexplode indices
    are shifted by the SAME per-post constant (the lengths of the kinds
    ahead of it in that post's array), so the (pos, idx) order within a
    kind is unchanged. A creator with no token of a family gets null in
    that family's columns (the report defaults n_unique_sponsors to 0 and
    brand_mentions to []); one with hashtags but no mentions, or the
    reverse, gets an empty map for the missing kind.
    """
    def tag(kind: str, tokens) -> Column:
        return F.transform(
            tokens, lambda t: F.struct(F.lit(kind).alias("kind"), t.alias("token"))
        )

    def lh_match(tag_: Column) -> Column:
        m = None
        for pat in LOCATION_HASHTAG_PATTERNS:
            hit = tag_.rlike(pat)
            m = hit if m is None else (m | hit)
        return m

    locs_per_post = F.filter(
        F.concat(
            F.when(
                F.col("location_name").isNotNull()
                & (F.trim("location_name") != ""),
                F.array(F.trim("location_name")),
            ).otherwise(F.array().cast("array<string>")),
            F.col("city_candidates"),
        ),
        lambda s: s != F.lit(""),
    )
    tagged = F.concat(
        F.when(
            F.col("is_recent_90d"),
            F.concat(tag("h", "hashtags"), tag("m", "mentions")),
        ).otherwise(F.array().cast("array<struct<kind:string,token:string>>")),
        tag("s", "sponsor_users"),
        tag("b", "mentions_w"),
        tag("l", locs_per_post),
        tag("t", F.filter("hashtags", lh_match)),
    )
    kind, token = F.col("kind"), F.col("token")
    keep = (
        # mentions stoplist is exact (:1600), on the lowered token
        F.when(kind == "m", (F.length(token) >= 3) & ~token.isin(dims.MENTION_STOPLIST))
        .when(kind == "s", token.isNotNull())
        .when(
            kind == "b",
            token.isNotNull()
            & ~F.lower(token).isin("instagram", "facebook", "twitter"),
        )
        .otherwise(True)
    )
    grain = (
        feat.select("username", "pos", F.posexplode(tagged).alias("idx", "kt"))
        .select(
            "username",
            F.col("kt.kind").alias("kind"),
            # hashtags are lowered at extract, mentions here
            F.when(F.col("kt.kind") == "m", F.lower("kt.token"))
            .otherwise(F.col("kt.token"))
            .alias("token"),
            # (pos, idx) packed into one long: min() of it stays a
            # codegen'd hash aggregate (a struct min falls back to sort)
            (F.shiftleft(F.col("pos").cast("long"), 32) + F.col("idx")).alias("seen"),
        )
        .filter(keep)
        .groupBy("username", "kind", "token")
        .agg(F.count("*").alias("cnt"), F.min("seen").alias("first_seen"))
    )

    def in_order(k_: str, *fields) -> Column:
        """The kind's tokens as structs of ``fields``, in first-seen order."""
        return F.array_sort(
            F.collect_list(F.when(kind == k_, F.struct("first_seen", *fields)))
        )

    def top_k(k_: str) -> Column:
        ranked = F.array_sort(
            F.collect_list(
                F.when(
                    kind == k_,
                    F.struct(F.negative("cnt").alias("neg_cnt"), "first_seen", "token", "cnt"),
                )
            )
        )
        return F.map_from_entries(
            F.transform(
                F.slice(ranked, 1, k),
                lambda s: F.struct(s["token"].alias("key"), s["cnt"].alias("value")),
            )
        )

    n_locs = F.sum(F.when(kind == "l", 1).otherwise(0))
    location_tags = F.transform(in_order("l", "token"), lambda s: s["token"])
    has_hm = F.max(kind.isin("h", "m"))
    has_sb = F.max(kind.isin("s", "b"))
    has_lt = F.max(kind.isin("l", "t"))
    out = grain.groupBy("username").agg(
        F.when(has_hm, top_k("h")).alias("hashtags_last_90_days"),
        F.when(has_hm, top_k("m")).alias("mentions_last_90_days"),
        F.when(
            has_sb,
            F.map_from_entries(
                F.transform(in_order("s", "token", "cnt"), lambda s: F.struct(s["token"], s["cnt"]))
            ),
        ).alias("sponsor_frequency"),
        F.sum(F.when(kind == "s", 1).otherwise(0)).alias("n_unique_sponsors"),
        F.transform(in_order("b", "token"), lambda s: s["token"]).alias("brand_mentions"),
        F.when(has_lt, location_tags).alias("location_tags"),
        F.when(has_lt, F.slice(location_tags, 1, 10)).alias("most_visited_locations"),
        F.when(has_lt, n_locs).alias("travel_frequency"),
        F.when(has_lt, F.least(F.lit(100), n_locs * 5)).alias("location_diversity_score"),
        F.when(
            has_lt, F.array_sort(F.collect_list(F.when(kind == "t", token)))
        ).alias("location_hashtags"),
    )
    if cities is None:
        return out
    # J2 — first-match substring theta-join against the (valid) dim
    loc = F.lower(token)
    cand = grain.filter(kind == "l").join(
        F.broadcast(cities),
        loc.contains(F.col("city")) | (loc == F.col("city")) | loc.startswith(F.col("city")),
        "inner",
    )
    wc = Window.partitionBy("username", "token").orderBy(F.col("ord").asc())
    matched = (
        cand.withColumn("mrn", F.row_number().over(wc))
        .filter(F.col("mrn") == 1)
        .groupBy("username")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("first_seen", "token", "city", "state_id"))
                ),
                lambda s: F.struct(
                    s["token"].alias("input_location"),
                    s["city"].alias("matched_city"),
                    s["state_id"].alias("state"),
                ),
            ).alias("matched_us_cities")
        )
    )
    return out.join(matched, "username", "left")


def creator_collab_keys(feat: DataFrame) -> DataFrame:
    """Per-creator collaboration anchors (analyze_insta_enhanced.py:
    1264-1327): first paid-partnership pos, first #ad/#collab pos, and
    ``uname`` (the FIRST post's node.user.username). Shared input of
    creator_collaborations and creator_ugc_examples; creator_report
    persists it once (creator-grain, tiny)."""
    return feat.groupBy("username").agg(
        F.min(F.when(F.col("is_paid"), F.col("pos"))).alias("paid_pos"),
        F.min(F.when(F.col("has_ad_collab_tag"), F.col("pos"))).alias("tag_pos"),
        F.min_by(F.col("user_username"), F.col("pos")).alias("uname"),
    )


def creator_collaborations(
    feat: DataFrame, keys: DataFrame | None = None
) -> DataFrame:
    """C12 — identify_collaborations, exactly
    (analyze_insta_enhanced.py:1253-1490):

    - ``uname`` is the FIRST post's ``node.user.username`` (:1264-1273);
    - mentions are collected from the FIRST paid-partnership post only
      (break at :1327), else — when no paid post exists — from the FIRST
      #ad/#collab post only (:1385-1432);
    - owners and coauthors are collected from ALL posts (foreign vs
      uname; when uname is missing every owner/coauthor counts, :1352);
    - first-occurrence dedup via a seen-set (Q10): encoded as
      (phase, pos, sub-index) ordering + row_number;
    - status cascade: paid → #ad/#collab → foreign owner (needs uname) →
      foreign coauthor (needs uname), else None;
    - ``recent_collaborations`` is a COUNT of recent entries (:1496);
      ``all_collaborations`` keeps insertion order.
    """
    if keys is None:
        keys = creator_collab_keys(feat)
    fx = feat.join(F.broadcast(keys), "username")
    uname_open = F.col("uname").isNull()

    def _mention_structs(phase: int, source: str) -> Column:
        return F.transform(
            "mentions",
            lambda m, i: F.struct(
                F.lit(phase).alias("phase"),
                i.alias("sub"),
                m.alias("collab"),
                F.lit(source).alias("source"),
                F.lit("mention").alias("recent_source"),
            ),
        )

    _empty = F.array().cast(
        "array<struct<phase:int,sub:int,collab:string,"
        "source:string,recent_source:string>>"
    )
    # All four reference collection phases as ONE per-row candidate
    # array (previously four unioned scans of the feature cache):
    # phase 1 — mentions of the first paid post (insertion = caption
    # order); phase 2 — the foreign owner (sub 0) and the foreign
    # coauthors (sub i+1, indexed in the null-filtered array BEFORE the
    # uname filter, matching the old posexplode-then-filter order);
    # phase 3 — mentions of the first #ad/#collab post, only when no
    # paid post exists.
    cands_array = F.concat(
        F.when(
            F.col("pos") == F.col("paid_pos"),
            _mention_structs(1, "paid_partnership"),
        ).otherwise(_empty),
        F.when(
            F.col("owner_username").isNotNull()
            & (uname_open | (F.col("owner_username") != F.col("uname"))),
            F.array(
                F.struct(
                    F.lit(2).alias("phase"),
                    F.lit(0).alias("sub"),
                    F.col("owner_username").alias("collab"),
                    F.lit("owner").alias("source"),
                    F.lit("owner").alias("recent_source"),
                )
            ),
        ).otherwise(_empty),
        F.filter(
            F.transform(
                F.filter(
                    F.col("coauthors_raw"),
                    lambda c: c["username"].isNotNull(),
                ),
                lambda c, i: F.struct(
                    F.lit(2).alias("phase"),
                    (i + 1).alias("sub"),
                    c["username"].alias("collab"),
                    F.lit("coauthor").alias("source"),
                    F.lit("coauthor").alias("recent_source"),
                ),
            ),
            lambda s: uname_open | (s["collab"] != F.col("uname")),
        ),
        F.when(
            F.col("paid_pos").isNull() & (F.col("pos") == F.col("tag_pos")),
            _mention_structs(3, "tag"),
        ).otherwise(_empty),
    )
    candidates = (
        fx.select(
            "username", "pos", "is_recent_300d", F.explode(cands_array).alias("c")
        )
        .select(
            "username",
            F.col("c.phase").alias("phase"),
            "pos",
            F.col("c.sub").alias("sub"),
            F.col("c.collab").alias("collab"),
            "is_recent_300d",
            F.col("c.source").alias("source"),
            F.col("c.recent_source").alias("recent_source"),
        )
        # the reference's mention cleaning (:1320-1325) applies to the
        # mention phases only; owners/coauthors pass through unfiltered
        .filter(
            (F.col("recent_source") != "mention")
            | (
                (F.length("collab") >= 3)
                & ~F.lower(F.col("collab")).isin(dims.MENTION_STOPLIST)
            )
        )
    )
    w = Window.partitionBy("username", "collab").orderBy(
        F.col("phase").asc(), F.col("pos").asc(), F.col("sub").asc()
    )
    first = candidates.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    collected = first.groupBy("username").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "phase", "pos", "sub", "collab", "is_recent_300d", "source",
                        "recent_source",
                    )
                )
            ),
            lambda s: F.struct(
                s["collab"].alias("name"),
                F.lit(1).alias("count"),
                s["is_recent_300d"].alias("is_recent"),
                s["source"].alias("source"),
            ),
        ).alias("all_collaborations"),
        F.count("*").alias("total_collaborations"),
        F.sum(F.when(F.col("is_recent_300d"), 1).otherwise(0)).alias(
            "recent_collaborations"
        ),
    )
    return keys.join(collected, "username", "left").select(
        "username",
        "paid_pos",
        "tag_pos",
        "uname",
        F.coalesce(
            "all_collaborations",
            F.array().cast(
                "array<struct<name:string,count:int,is_recent:boolean,source:string>>"
            ),
        ).alias("all_collaborations"),
        F.coalesce("total_collaborations", F.lit(0)).alias("total_collaborations"),
        F.coalesce("recent_collaborations", F.lit(0)).cast("long").alias(
            "recent_collaborations"
        ),
    )


def creator_ugc_examples(
    feat: DataFrame, keys: DataFrame | None = None
) -> DataFrame:
    """K6 — extract_ugc_examples (analyze_insta_enhanced.py:1114-1251):
    clips-only 4-tier cascade (paid → #ad/#collab → foreign owner →
    foreign coauthor), first-occurrence dedup across tiers, cap 3,
    rendered as pipe-joined Instagram URLs.
    """
    if keys is None:
        keys = creator_collab_keys(feat)
    fx = feat.join(
        F.broadcast(keys.select("username", "uname")), "username"
    ).filter(F.col("is_clips"))
    has_uname = F.col("uname").isNotNull()
    prio = (
        F.when(F.col("is_paid"), 1)
        .when(F.col("has_ad_collab_tag"), 2)
        .when(
            has_uname
            & F.col("owner_username").isNotNull()
            & (F.col("owner_username") != F.col("uname")),
            3,
        )
        .when(has_uname & (F.size("foreign_coauthors") > 0), 4)
    )
    cand = fx.select(
        "username", "pos", "code", prio.alias("prio")
    ).filter(F.col("prio").isNotNull() & F.col("code").isNotNull())
    w_dedup = Window.partitionBy("username", "code").orderBy(
        F.col("prio").asc(), F.col("pos").asc()
    )
    # after the dedup every row is its own post, so (prio, pos) is a
    # total order: the first three of the sorted list are the top 3
    return (
        cand.withColumn("dd", F.row_number().over(w_dedup))
        .filter(F.col("dd") == 1)
        .groupBy("username")
        .agg(
            F.array_join(
                F.transform(
                    F.slice(
                        F.array_sort(F.collect_list(F.struct("prio", "pos", "code"))), 1, 3
                    ),
                    lambda s: F.concat(
                        F.lit("https://www.instagram.com/p/"), s["code"]
                    ),
                ),
                " | ",
            ).alias("ugc_examples")
        )
    )


# C10 personality keyword lists (exact: analyze_insta_enhanced.py:337-346)
PROFESSIONAL_WORDS = ["ceo", "founder", "entrepreneur", "business", "professional", "expert", "consultant", "coach"]
CREATIVE_WORDS = ["artist", "creative", "designer", "photographer", "writer", "musician", "creator"]
SOCIAL_WORDS = ["love", "friends", "family", "community", "together", "sharing", "connect"]
PERSONALITY_TRAITS = [
    "professional", "creative", "social", "authentic", "aspirational",
    "educational", "entertaining",
]


# --------------------------------------------------------------------------
# Profile-text extractors (build plan §7.2 step 5) + classifiers (step 6).
# --------------------------------------------------------------------------

# exact 5-pattern cascade (analyze_insta_enhanced.py:1687-1693); the
# matched string is stripped of [\s.-] (:1697)
PHONE_PATTERNS = [
    r"\+?\d{1,4}[-.\s]?\(?\d{2,4}\)?[-.\s]?\d{3,4}[-.\s]?\d{4}",
    r"\+\d{10,15}",
    r"\(?\d{3}\)?[-.\s]?\d{3}[-.\s]?\d{4}",
    r"\(?\d{3}\)?[-.\s]?\d{3}[-.\s]?\d{4}\s*x\d{1,5}",
    r"\d{3,}[-.\s]?\d{3,}[-.\s]?\d{4,}",
]

# exact email pattern (:1631)
EMAIL_EXACT_RE = r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b"


def creator_profile_features(
    users: DataFrame, spark: SparkSession, python_rounding: bool = False
) -> DataFrame:
    """X1/X2/C1/C7/C8 profile-level columns in one projection + one
    explode-join for niche scoring (C9/A10).

    Reference: email :1631, phone cascade :1687-1699, name split
    :1649-1652, gender :714-788 (substring-containment counts, quirk
    preserved), size :1655-1678, account type :1814-1852, niche
    :962-1112, social links :790-835.
    """
    rnd = rounder(python_rounding)
    bio = F.coalesce(F.col("biography"), F.lit(""))
    bio_lower = F.lower(bio)
    name_lower = F.lower(F.coalesce(F.col("full_name"), F.lit("")))
    uname_lower = F.lower(F.col("username"))
    fol = F.coalesce(F.col("follower_count"), F.lit(0))

    phone = F.regexp_replace(
        F.coalesce(
            *[F.nullif(F.regexp_extract(bio, p, 0), F.lit("")) for p in PHONE_PATTERNS]
        ),
        r"[\s.-]",
        "",
    )

    # C7 — pronoun field first (:733-746): category of the FIRST matching
    # pronoun in list order
    norm_prons = F.transform(
        F.coalesce(F.col("pronouns"), F.array()), lambda p: F.trim(F.lower(p))
    )
    all_prons = dims.PRONOUNS_FEMALE + dims.PRONOUNS_MALE + dims.PRONOUNS_NB
    # try_element_at: ANSI mode errors on element_at of an empty array
    first_pron = F.try_element_at(
        F.filter(norm_prons, lambda p: p.isin(*all_prons)), F.lit(1)
    )
    gender_by_pronoun = (
        F.when(first_pron.isin(*dims.PRONOUNS_FEMALE), "Female")
        .when(first_pron.isin(*dims.PRONOUNS_MALE), "Male")
        .when(first_pron.isin(*dims.PRONOUNS_NB), "Non-binary")
    )
    # keyword path (:749-788): SUBSTRING containment count per list,
    # argmax with Female > Male > Non-binary tie order
    all_text = F.concat_ws(" ", bio_lower, name_lower, uname_lower)
    scores = {}
    for g, _, kws in dims.GENDER_KEYWORDS:
        s = None
        for kw in kws:
            hit = F.when(all_text.contains(kw), 1).otherwise(0)
            s = hit if s is None else s + hit
        scores[g] = s
    max_score = F.greatest(scores["Female"], scores["Male"], scores["Non-binary"])
    kw_gender = (
        F.when(max_score == 0, "Unknown")
        .when(scores["Female"] == max_score, "Female")
        .when(scores["Male"] == max_score, "Male")
        .otherwise("Non-binary")
    )
    gender = F.coalesce(gender_by_pronoun, kw_gender)

    # C1 (:1655-1678) — falsy follower count → Unknown
    size = (
        F.when(fol == 0, "Unknown")
        .when(fol < 5000, "Nano-Influencer")
        .when(fol < 50000, "Micro-Influencer")
        .when(fol < 500000, "Mid-Tier Influencer")
        .when(fol < 1000000, "Macro-Influencer")
        .otherwise("Mega-Influencer")
    )

    # C2 profile-text UGC hit (:856-859); caption hits merge in later
    profile_ugc = _any_contains(
        F.concat_ws("\n", name_lower, uname_lower, bio_lower), dims.UGC_KEYWORDS
    )

    # C8 (:1814-1852) — exact keyword cascade
    cat_lower = F.lower(F.coalesce(F.col("category"), F.lit("")))
    ext_lower = F.lower(F.coalesce(F.col("external_url"), F.lit("")))
    account_type = (
        F.when(
            _any_contains(cat_lower, dims.BRAND_KEYWORDS)
            | _any_contains(bio_lower, dims.BRAND_KEYWORDS)
            | F.coalesce(F.col("is_business"), F.lit(False)),
            "brand",
        )
        .when(
            _any_contains(cat_lower, dims.CREATOR_KEYWORDS)
            | _any_contains(bio_lower, dims.CREATOR_KEYWORDS),
            "creator",
        )
        .when(_any_contains(ext_lower, dims.SHOP_URL_KEYWORDS), "brand")
        .when(F.coalesce(F.col("is_verified"), F.lit(False)) & (fol > 50000), "creator")
        .otherwise("personal")
    )

    # social links (:790-835): first matching url per platform
    urls = F.transform(
        F.coalesce(F.col("bio_links"), F.array()), lambda link: link["url"]
    )

    def first_url(domains: list[str]) -> Column:
        return F.try_element_at(
            F.filter(urls, lambda u: _any_contains(F.lower(u), domains)),
            F.lit(1),
        )

    base = users.select(
        "username",
        "full_name",
        # full_name.split() — any-whitespace split, None when missing
        # (analyze_insta_enhanced.py:1649-1652)
        F.try_element_at(
            F.filter(
                F.split(F.trim(F.coalesce("full_name", F.lit(""))), r"\s+"),
                lambda t: t != F.lit(""),
            ),
            F.lit(1),
        ).alias("first_name"),
        F.when(
            F.size(
                F.filter(
                    F.split(F.trim(F.coalesce("full_name", F.lit(""))), r"\s+"),
                    lambda t: t != F.lit(""),
                )
            )
            > 1,
            F.array_join(
                F.slice(
                    F.filter(
                        F.split(F.trim(F.coalesce("full_name", F.lit(""))), r"\s+"),
                        lambda t: t != F.lit(""),
                    ),
                    2,
                    100000,
                ),
                " ",
            ),
        ).alias("last_name"),
        bio.alias("biography"),
        fol.alias("follower_count"),
        F.coalesce(F.col("following_count"), F.lit(0)).alias("following_count"),
        F.coalesce(F.col("media_count"), F.lit(0)).alias("media_count"),
        F.coalesce(F.col("is_verified"), F.lit(False)).alias("is_verified"),
        F.coalesce(F.col("category"), F.lit("")).alias("business_category"),
        F.nullif(F.regexp_extract(bio, EMAIL_EXACT_RE, 0), F.lit("")).alias("email"),
        phone.alias("phone_number"),
        gender.alias("gender"),
        size.alias("creator_size"),
        profile_ugc.alias("_profile_ugc"),
        _any_contains(bio_lower, dims.SPONSOR_BIO_TERMS).alias("_bio_partnerships"),
        account_type.alias("ig_account_type"),
        F.struct(
            first_url(["tiktok.com", "tiktok.app"]).alias("tiktok"),
            first_url(["youtube.com", "youtu.be"]).alias("youtube"),
            first_url(["linktr.ee"]).alias("linktree"),
        ).alias("social_links"),
    )

    # C9 niche (:962-1112): weights username 2.0 / biography 1.5 /
    # full_name 1.0 (:1036-1040); whole-token matching after the
    # source-specific tokenizations (:1017-1023) — one explode over the
    # three sources' concatenated (token, weight) arrays
    def weighted(tokens: Column, weight: float) -> Column:
        return F.transform(
            tokens,
            lambda t: F.struct(t.alias("token"), F.lit(weight).alias("weight")),
        )

    toks = users.select(
        "username",
        F.explode(
            F.concat(
                weighted(username_tokens(F.col("username")), 2.0),
                weighted(bio_tokens(F.coalesce(F.col("biography"), F.lit(""))), 1.5),
                weighted(bio_tokens(F.coalesce(F.col("full_name"), F.lit(""))), 1.0),
            )
        ).alias("tw"),
    ).select("username", "tw.token", "tw.weight")
    # Reference scoring quirk (:1046-1056): for each keyword, count = total
    # occurrences and weighted = Σ weight(source) PER OCCURRENCE, and the
    # category gets weighted*count — quadratic in the occurrence count.
    # A keyword in several categories contributes to each ((keyword,
    # category) is unique in the dim, so each occurrence joins once per
    # category and the (token, category) grain counts it once). Weights
    # are multiples of 0.5, so every sum is exact in any order.
    ndim = dims.niche_dim(spark)
    scores_df = (
        toks.join(F.broadcast(ndim), toks.token == ndim.keyword)
        .groupBy("username", "token", "category", "cat_ord")
        .agg(F.count("*").alias("cnt"), F.sum("weight").alias("wsum"))
        .groupBy("username", "category", "cat_ord")
        .agg(F.sum(F.col("wsum") * F.col("cnt")).alias("score"))
    )
    w_total = Window.partitionBy("username")
    share = F.col("score") / F.sum("score").over(w_total) * 100
    scored = scores_df.select(
        "category",
        "cat_ord",
        "username",
        "score",
        share.alias("share"),
        rnd(share, 1).alias("share_r"),  # round pre-collect
        (F.col("score") / F.max("score").over(w_total) * 100).alias("confidence"),
    )

    def capped(confidence: Column) -> Column:
        # min(100, int(score/max*100)) — int() truncates (:1079-1080)
        return F.least(F.lit(100), F.floor(confidence).cast("int"))

    niche = scored.groupBy("username").agg(
        # primary = (score desc, category order) first
        F.array_min(
            F.collect_list(
                F.struct(F.negative("score"), "cat_ord", "category", "confidence")
            )
        ).alias("_primary"),
        F.map_from_entries(
            F.transform(
                F.array_sort(F.collect_list(F.struct("cat_ord", "category", "confidence"))),
                lambda s: F.struct(
                    s["category"].alias("key"), capped(s["confidence"]).alias("value")
                ),
            )
        ).alias("niche_confidence_matched"),
        F.map_from_entries(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        # F9 (:1069)
                        F.when(
                            F.col("share") >= 2.0,
                            F.struct("cat_ord", "category", "share_r"),
                        )
                    )
                ),
                lambda s: F.struct(
                    s["category"].alias("key"), s["share_r"].alias("value")
                ),
            )
        ).alias("niche_distribution"),
    )
    # no keyword hit → overall_niche is None (:1073); distribution {} is
    # represented as an empty map rather than null
    return base.join(niche, "username", "left").select(
        *base.columns,
        F.col("_primary.category").alias("overall_niche"),
        capped(F.col("_primary.confidence")).alias("niche_confidence"),
        "niche_confidence_matched",
        F.coalesce(
            "niche_distribution",
            F.map_from_entries(F.array().cast("array<struct<key:string,value:double>>")),
        ).alias("niche_distribution"),
    )


# --------------------------------------------------------------------------
# Assembly (§3.1) + C2 tier + C3 pricing + C11 fake-follower + C12 status.
# --------------------------------------------------------------------------


# caches pinned by the most recent creator_report() call — users, feat,
# keys and the returned report itself, which the sinks read;
# released at the start of the next call (see comment inside
# creator_report).
# CONTRACT: creator_report is single-threaded per SparkSession — a
# concurrent second call unpersists the first call's caches, which can
# only cost recomputation (if the first report is not yet materialized),
# never wrong results. Tests cover the sequential-successive case
# (tests/test_creator_pipeline.py).
_PERSISTED_HANDLES: list[DataFrame] = []


def creator_report(
    spark: SparkSession,
    users: DataFrame,
    posts: DataFrame,
    as_of: dt.datetime = AS_OF_REFERENCE,
    compat_q6: bool = True,
    python_rounding: bool = False,
    cities: DataFrame | None = None,
    tz_offset_min: int = 0,
) -> DataFrame:
    """The full per-creator report DataFrame (reference output record,
    SURVEY.md §1.4), sorted by average_engagement_rate desc (K5).

    Returned persisted, lazily: the first sink's job fills the cache and
    the others read it. The next call releases it."""
    # The persisted handles below are internal, so callers can't
    # unpersist them. Bound the leak to ONE call's caches: each new
    # creator_report call releases the previous call's handles (by then
    # the previous report has normally been materialized; if not, the
    # only cost is recomputation, never wrong results).
    for _old in _PERSISTED_HANDLES:
        _old.unpersist()
    _PERSISTED_HANDLES.clear()
    # The creators table is consumed three times (profile's base + the
    # niche explode + the followers broadcast): persist it at creator
    # grain so the source scan runs once.
    users = users.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED_HANDLES.append(users)
    followers = users.select("username", "follower_count")
    # Materialize the per-post feature projection ONCE, hash-partitioned
    # by creator. Three plan decisions, each load-bearing at scale:
    # (a) repartition the RAW posts BEFORE the projection — the regex-
    #     heavy per-post projection then runs at full cluster width even
    #     when the source arrives in a handful of input splits, and the
    #     exchange carries the narrower raw rows instead of the projected
    #     row plus its derived arrays (measured at ~151k posts: 7.9s →
    #     1.3s for the materialization when the repartition moves ahead
    #     of the projection);
    # (b) persist — every creator-grain consumer and every ranking window
    #     reads `feat`; unpersisted, each one re-runs the scan + the
    #     projection (15.0s end-to-end vs ~6s, bench creator_report_full);
    # (c) the select preserves the hash(username) partitioning, so every
    #     groupBy("username") / Window.partitionBy("username") consumer
    #     runs exchange-free off the cache. MEMORY_AND_DISK: a feature
    #     table bigger than memory spills instead of silently recomputing
    #     the chain per consumer.
    feat = per_post_features(
        posts.repartition("username"), followers, as_of, tz_offset_min
    ).persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED_HANDLES.append(feat)
    profile = creator_profile_features(users, spark, python_rounding)

    # the collab anchors are a tiny creator-grain intermediate consumed
    # by both collaborations and ugc; persisted so it is computed in one
    # pass over `feat`.
    keys = creator_collab_keys(feat).persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED_HANDLES.append(keys)
    # (r6 stage profile note: an eager .count() materialization of these
    # caches was tried against the theory that concurrent broadcast
    # subtrees race the cold cache — wall was unchanged-to-slightly-worse
    # (12.4s -> 12.7-13.0s at 600 replicas), because the caches ARE hit:
    # the heavy stages' 31 MB "input" is the serialized feat cache, not
    # JSON re-reads. See BENCH_NOTES_r06.md for the stage-level table.)

    # top_6_posts and the C13 partnership scalars/timeline ride inside
    # creator_post_aggregates' single wide aggregation; every token
    # family (hashtags/mentions, sponsors/brands, locations) rides
    # creator_tokens' single explode.
    aggs = creator_post_aggregates(feat, as_of, compat_q6, python_rounding)
    hours = creator_posting_hours(feat)
    tokens = creator_tokens(feat, cities)
    collabs = creator_collaborations(feat, keys=keys)
    ugc = creator_ugc_examples(feat, keys=keys)

    # C2 type/tier (:854-892): profile OR caption UGC hit, then demotion
    fol = F.col("follower_count")
    is_ugc = F.col("_profile_ugc") | F.coalesce(F.col("any_ugc_caption"), F.lit(False))
    creator_type = F.when(is_ugc, "UGC Creator").otherwise("Social Media Influencer")
    creator_type = F.when(
        (creator_type == "Social Media Influencer") & (fol < 1000), "UGC Creator"
    ).otherwise(creator_type)
    tier = (
        F.when(
            creator_type == "UGC Creator",
            F.when(fol < 1000, "Beginner").otherwise("Experienced"),
        )
        .when(fol < 10000, "1K-10K")
        .when(fol < 50000, "10K-50K")
        .when(fol < 500000, "50K-500K")
        .otherwise("500K-1M+")
    )
    # no J2 dim: every creator with posts gets [] (the reference's
    # empty match list), creators without posts stay null
    matched_us_cities = (
        F.col("matched_us_cities")
        if cities is not None
        else F.when(
            F.col("n_posts").isNotNull(),
            F.array().cast(
                "array<struct<input_location:string,matched_city:string,state:string>>"
            ),
        )
    )
    # one projection over the fan-in: the report's column order (the
    # analyzed-JSON field order), the defaults of the token columns for
    # creators without any token, and the type/tier pricing keys
    report = (
        profile.join(aggs, "username", "left")
        .join(hours, "username", "left")
        .join(tokens, "username", "left")
        .join(collabs, "username", "left")
        .join(ugc, "username", "left")
        .select(
            *profile.columns,
            *aggs.columns[1:],
            "most_active_hour",
            "best_posting_time",
            "hashtags_last_90_days",
            "mentions_last_90_days",
            *collabs.columns[1:],
            "ugc_examples",
            "sponsor_frequency",
            F.coalesce("n_unique_sponsors", F.lit(0)).alias("n_unique_sponsors"),
            F.coalesce("brand_mentions", F.array().cast("array<string>")).alias(
                "brand_mentions"
            ),
            "posting_timezone_pattern",
            "location_tags",
            "most_visited_locations",
            "travel_frequency",
            "location_diversity_score",
            "location_hashtags",
            "timezone_estimate",
            matched_us_cities.alias("matched_us_cities"),
            creator_type.alias("creator_type"),
            tier.alias("tier"),
        )
    )

    # C11 fake followers (:244-310) — Q6-faithful inputs from the aggregate
    ff_er = F.when(
        fol > 0, F.col("_ff_sum_eng_per_post") / fol * 100
    ).otherwise(F.lit(None))
    ff_likes = F.coalesce(F.col("_ff_avg_likes"), F.lit(0.0))
    ff_comments = F.coalesce(F.col("_ff_avg_comments"), F.lit(0.0))
    has_data = (F.coalesce(F.col("n_posts"), F.lit(0)) > 0) & (fol > 0)
    ind1 = has_data & (ff_er < 0.5)
    ind2 = has_data & (fol > 10000) & (F.col("following_count") < 100) & (ff_er < 1)
    ind3 = has_data & (ff_likes > 100) & (ff_comments < ff_likes * 0.01)
    fake_score = (
        F.when(ind1, 30).otherwise(0)
        + F.when(ind2, 25).otherwise(0)
        + F.when(ind3, 20).otherwise(0)
    )
    suspicious = F.filter(
        F.array(
            F.when(ind1, "Very low engagement rate"),
            F.when(
                ind2, "High follower count with very low following and engagement"
            ),
            F.when(ind3, "Disproportionately low comment rate"),
        ),
        lambda x: x.isNotNull(),
    )
    quality = (
        F.when(fake_score > 50, "Poor").when(fake_score > 25, "Moderate").otherwise("Good")
    )

    # C12 status (:1277-1475): 'Active' on first cascade hit, else None;
    # the owner/coauthor fallbacks require uname (the first post's
    # node.user.username) to be present (:1440-1475)
    has_uname = F.col("uname").isNotNull()
    any_collab = (
        F.col("paid_pos").isNotNull()
        | F.col("tag_pos").isNotNull()
        | (has_uname & F.coalesce("any_foreign_owner", F.lit(False)))
        | (has_uname & F.coalesce("any_foreign_coauthor", F.lit(False)))
    )
    collab_status = F.when(any_collab, "Active").otherwise(F.lit(None).cast("string"))
    collab_detail = (
        F.when(F.col("paid_pos").isNotNull(), "Paid Partnership")
        .when(F.col("tag_pos").isNotNull(), "Sponsored Content")
        .when(has_uname & F.coalesce("any_foreign_owner", F.lit(False)),
              "Collaborative Posts")
        .when(has_uname & F.coalesce("any_foreign_coauthor", F.lit(False)),
              "Co-authored")
    )

    # C10 — personality + profile insights (analyze_insta_enhanced.py:312-388)
    bio_l = F.lower(F.coalesce("biography", F.lit("")))

    def word_hits(words: list[str]):
        s = None
        for wd in words:
            hit = F.when(bio_l.contains(wd), 1).otherwise(0)
            s = hit if s is None else s + hit
        return s

    consistency0 = F.coalesce("consistency_score", F.lit(0.0))
    er0 = F.coalesce("engagement_rate", F.lit(0.0))
    t_professional = word_hits(PROFESSIONAL_WORDS) + F.when(
        consistency0 > 70, 1
    ).otherwise(0)
    t_creative = word_hits(CREATIVE_WORDS)
    t_social = word_hits(SOCIAL_WORDS)
    t_authentic = F.when(
        F.lower(F.coalesce("post_frequency", F.lit(""))).contains("daily"), 2
    ).otherwise(0)
    max_trait = F.greatest(t_professional, t_creative, t_social, t_authentic)
    personality_type = (
        F.when(max_trait == 0, "Balanced")
        .when(t_professional == max_trait, "Professional")
        .when(t_creative == max_trait, "Creative")
        .when(t_social == max_trait, "Social")
        .otherwise("Authentic")
    )
    authenticity = rounder(python_rounding)(
        consistency0 / 100 * 30
        + F.least(t_social * 10, F.lit(30)).cast("double")
        + F.least(er0 * 2, F.lit(40.0)),
        0,
    ).cast("long")
    brand_score = t_professional * 20 + er0 * 5 + consistency0
    brand_potential = (
        F.when(brand_score > 150, "High")
        .when(brand_score > 75, "Medium")
        .otherwise("Low")
    )
    personality_struct = F.struct(
        t_professional.alias("professional"),
        t_creative.alias("creative"),
        t_social.alias("social"),
        t_authentic.alias("authentic"),
        F.lit(0).alias("aspirational"),
        F.lit(0).alias("educational"),
        F.lit(0).alias("entertaining"),
    )
    insights_struct = F.struct(
        personality_type.alias("personality_type"),
        F.lit("Mixed").alias("content_style"),
        F.lit("General").alias("audience_appeal"),
        brand_potential.alias("brand_potential"),
        authenticity.alias("authenticity_score"),
    )

    # C13 assembly: bio flag + capped collaboration score (:664-679)
    bio_p = F.coalesce("_bio_partnerships", F.lit(False))
    performs_better = F.coalesce("sponsored_performs_better", F.lit(False))
    collaboration_score = F.when(
        F.coalesce("_timeline_crashed", F.lit(False)), 0
    ).otherwise(
        F.least(F.coalesce("total_sponsored_posts", F.lit(0)) * 10, F.lit(40))
        + F.least(F.coalesce("n_unique_sponsors", F.lit(0)) * 15, F.lit(30))
        + F.when(bio_p, 20).otherwise(0)
        + F.when(performs_better, 10).otherwise(0)
    )
    engagement_comparison = F.when(
        F.col("sponsored_vs_organic_ratio").isNotNull(),
        F.struct(
            F.col("sponsored_vs_organic_ratio").alias("sponsored_vs_organic_ratio"),
            performs_better.alias("sponsored_performs_better"),
        ),
    )

    # C3 pricing (:894-954): broadcast dim on (type, tier); price points =
    # Python round(mult*base) → bround 0dp
    pricing = dims.pricing_dim(spark)
    report = report.join(F.broadcast(pricing), ["creator_type", "tier"], "left")

    # date strings render in the reference machine's wall clock
    local_as_of = as_of + dt.timedelta(minutes=tz_offset_min)
    as_of_date = F.lit(local_as_of.strftime("%Y-%m-%d"))
    date_range = (
        (local_as_of - dt.timedelta(days=RECENT_DAYS)).strftime("%Y-%m-%d")
        + " to "
        + local_as_of.strftime("%Y-%m-%d")
    )
    # followers falsy → calculate_top_post_er returns (0, [], 0) (:1508)
    posts_3m = F.when(
        F.col("follower_count") > 0,
        F.coalesce("total_posts_last_3_months", F.lit(0)),
    ).otherwise(0)
    report = (
        report.withColumns(
            {
                "fake_follower_score": fake_score,
                "suspicious_indicators": suspicious,
                "authenticity_score": 100 - fake_score,
                "engagement_quality": quality,
                "collaboration_status": collab_status,
                "collaboration_status_detail": collab_detail,
                "personality_traits": personality_struct,
                "profile_insights": insights_struct,
                "collaboration_score": collaboration_score,
                "engagement_comparison": engagement_comparison,
                "has_paid_partnerships": (
                    F.coalesce("total_sponsored_posts", F.lit(0)) > 0
                )
                | bio_p,
                "total_posts_last_3_months": posts_3m,
                "top_6_posts": F.coalesce(
                    "top_6_posts",
                    F.array().cast(
                        "array<struct<interaction_score:bigint,likes:bigint,"
                        "comments:bigint,engagement_rate:double,post_code:string,"
                        "taken_at:string>>"
                    ),
                ),
                "ugc_examples": F.coalesce("ugc_examples", F.lit("")),
                "posts_analyzed_for_hashtags": posts_3m,
                "hashtag_analysis_date_range": F.lit(date_range),
                "profile_picture": F.when(
                    F.col("username") != "",
                    F.concat(
                        F.lit("https://assets.veelapp.com/"),
                        F.col("username"),
                        F.lit(".jpg"),
                    ),
                ).otherwise(""),
                **{
                    name: F.bround(F.col("base_price") * F.lit(mult), 0).cast("long")
                    for name, mult in dims.PRICE_MULTIPLIERS
                },
                "estimated_roi": F.col("roi"),
                "impressions_visibility": F.col("impressions"),
                "analysis_date": as_of_date,
                "analyzed_date": as_of_date,
                "scraped_date": as_of_date,
            }
        )
        .drop(
            "_timeline_crashed",
            "_ff_avg_likes",
            "_ff_avg_comments",
            "_ff_sum_eng_per_post",
            "_fol",
            "_profile_ugc",
            "_bio_partnerships",
            "base_price",
            "roi",
            "impressions",
            "paid_pos",
            "tag_pos",
            "uname",
        )
        .orderBy(
            F.col("average_engagement_rate").desc_nulls_last(), F.col("username").asc()
        )
    )
    # The three sinks (analyzed JSON, txt, wide CSV) each consume the
    # finished report; unpersisted, every sink re-runs the whole join
    # plan (3 executions per pass). Lazy: the first sink fills the cache
    # as a side effect of its own job — an eager count() would add one.
    report = report.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED_HANDLES.append(report)
    return report


# --------------------------------------------------------------------------
# Sinks (S4/S6 — build plan §7.2 step 9; the S5 wide CSV is
# plans/wide_csv.py's flatten_report + sanitize_and_write).
# --------------------------------------------------------------------------


def write_analyzed_json(report: DataFrame, path: str) -> None:
    """S4 — per-creator JSON lines, ER-desc sorted (the scalable form of
    the reference's single-envelope analyzed.json,
    analyze_insta_enhanced.py:2005-2017)."""
    report.write.mode("overwrite").json(path)


def render_txt_report(row) -> str:
    """S6 — the per-creator formatted text report
    (analyze_insta_enhanced.py:1854-1934 shape)."""
    return "\n".join(
        [
            "=" * 60,
            f"CREATOR ANALYSIS: {row['username']}",
            "=" * 60,
            f"Name: {row['full_name'] or ''}",
            f"Followers: {row['follower_count']:,}",
            f"Size: {row['creator_size']}  Tier: {row['tier']}",
            f"Type: {row['creator_type']}  Account: {row['ig_account_type']}",
            f"Gender: {row['gender']}",
            f"Avg Engagement Rate: {row['average_engagement_rate']}",
            f"Consistency: {row['consistency_score']}",
            f"Trend: {row['engagement_trend']}",
            f"Posting: {row['post_frequency']} | Best time: {row['best_posting_time']}",
            f"Primary Niche: {row['overall_niche']} ({row['niche_confidence']})",
            f"Collaboration: {row['collaboration_status']}",
            f"Fake-Follower Score: {row['fake_follower_score']} ({row['engagement_quality']})",
            f"Report Generated: {row['analysis_date']}",
            "=" * 60,
        ]
    )


def write_txt_reports(report: DataFrame, out_dir: str) -> None:
    """S6 — one .txt per creator. Executor-side foreachPartition write
    (no driver collect) — each partition writes its creators' files."""
    import os

    os.makedirs(out_dir, exist_ok=True)

    def write_partition(rows) -> None:
        for row in rows:
            p = os.path.join(out_dir, f"{row['username']}_analysis.txt")
            with open(p, "w") as fh:
                fh.write(render_txt_report(row))

    report.foreachPartition(write_partition)
