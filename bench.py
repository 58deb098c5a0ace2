"""Benchmark harness — the driver runs this per-round at sf0.1.

Runs the headline queries end-to-end (scan → ... → noop sink, full
materialization, no driver collect) on local[$SPARK_GRAFT_CPUS] against
$SPARK_GRAFT_SF_DIR and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": <sf>,
     "load_before": [1m, 5m, 15m], "load_after": [...], "cpus": N}

load_before/load_after are /proc/loadavg stamps bracketing the run so a
reader can tell a loaded-machine recording from a plan regression
(VERDICT r4: BENCH_r04 was contaminated by a noisy co-tenant).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "a4_pricing_summary",
    "k1_top6_er",
    "j3_users_posts_join",
    "a11_post_gap_frequency",
    "a12_split_half_trend",
    "f7_recent20_mixed_window",
    "k6_priority_cascade",
    "c9_f9_niche_distribution",
    "j2_first_match_theta_join",
    "x2_x4_string_ops",
    "st1_tumbling_window",
    "st3_sessionization",
    "dd1_exact_dedup",
    "dd2_ngram_jaccard_pairs",
    "dd3_minhash_lsh_pairs",
    "ann1_cosine_topk",
    "txt1_lang_id",
    "txt2_quality_score",
    # r2 additions: promoted standalone detector/classifier queries and
    # one representative per new operator family (temporal / sampling /
    # stateful streaming). The r1-comparable subset is everything above
    # this comment.
    "c10_personality_insights",
    "c12_collab_status",
    "c13_sponsor_detector",
    "aj1_asof_click_purchase",
    "rj2_error_near_purchase",
    "sp3_k_per_stratum",
    "st5_stateful_sessions",
    # r3 additions: one representative per family added this round. The
    # r2-comparable subset is everything above this comment.
    "txt7_repetition_stats",
    "dd7_ngram_contamination",
    "a16_length_histogram",
    "st7_session_window",
    "mm3_frame_select",
    # r4 additions. The r3-comparable subset is everything above this
    # comment.
    "dp1_sequence_packing",
    "ds1_corpus_shuffle",
    "mx1_temperature_mix",
    "sq3_matryoshka_truncate",
    "mm4_audio_chunks",
    # r5 additions. The r4-comparable subset is everything above this
    # comment.
    "dd8_dedup_keep_list",
    "cdc1_merge_upsert",
    "cdc2_scd2_intervals",
    "txt8_filter_verdict",
    "ii1_inverted_index",
    "km1_kmeans_assign",
    "zo1_zorder_stats",
    "dq1_column_profile",
    "dq2_schema_drift",
    "pr1_pagerank",
    "ad1_rolling_zscore",
    "dc2_fuzzy_decontaminate",
    "ii2_bm25_topk",
    "cm1_corpus_manifest",
    "ann4_portable_lsh_topk",
    "dd9_portable_simhash_pairs",
    "st8_stream_static_join",
    "st9_stream_stream_join",
    "sk1_salted_distinct_users",
    "sk2_salted_join_segment",
    # r6 additions. The r5-comparable subset is everything above this
    # comment.
    "dd10_keep_list_banded",
    "ii3_bm25_log_idf",
    "dq1a_column_profile_approx",
    "ann5_ivfpq_topk",
    "st10_streaming_upsert",
    "txt9_bigram_surprisal",
    "dd11_staged_keep_list",
    "zo2_pruning_effectiveness",
    "mm5_image_patches",
    # r7 additions. The r6-comparable subset is everything above this
    # comment.
    "dd12_repeated_span_trim",
    # r8 additions. The r7-comparable subset is everything above this
    # comment.
    "cp1_curated_corpus",
    "ii4_prf_rerank",
    "ii5_rrf_fusion",
    "dp2_sequence_manifest",
    "dd13_semantic_keep_list",
    "txt10_trigram_surprisal",
    # st11 shows provider parity for ~2s; cp2 is deliberately NOT a
    # bench line -- it re-runs cp1's whole chain for a rollup, and
    # paying the composition twice per bench adds noise, not signal
    "st11_rocksdb_dedup",
    "st12_streaming_band_admission",
    # st13 prices the streaming expectation-suite shape (one grouped
    # agg, 2-key state) — dq4's batch twin re-runs a scan the dq3 line
    # already prices, so the STREAMING side is the one worth a line
    "st13_streaming_expectation_drift",
    "cm2_incremental_admission",
    "txt11_winnowing_fingerprint",
    "ii6_retrieval_eval",
    "dd14_winnowing_pairs",
    "dd15_quality_survivor",
    "mx2_epoch_budget",
    "ii7_fusion_eval",
    # dd16 is deliberately NOT a bench line (cp2 precedent): its exact
    # side re-runs dd2's quadratic shingle self-join next to the banded
    # chain — paying the yardstick per bench adds noise, not signal.
    # r9 additions. The r8-comparable subset is everything above this
    # comment. cp4 is NOT a line (cp2 precedent: it re-runs the cp1 AND
    # cp3 chains for a rollup).
    "dc3_semantic_decontaminate",
    "cp3_incremental_release",
    "mx3_surprisal_weighted_mixture",
    "txt13_source_vocab_overlap",
    "ro3_multigrain_rollup",
    # r10 additions. The r9-comparable subset is everything above this
    # comment. sp4 re-runs dd11's staged keep-list chain (composition
    # price, cp1 precedent); ds2 is mx2's budgets + the per-epoch
    # decomposed shuffle; dp3 adds the L=2048 chop over ds2's stream.
    # dc4 and sp5 are deliberately NOT bench lines (cp4 precedent:
    # both re-run dd11's chain, already priced via dd11/sp4, and sp5's
    # semantic pair stage is priced via dd13).
    "sp4_cluster_split",
    "ds2_epoch_order",
    "dp3_epoch_packing",
    # r11 additions. The r10-comparable subset is everything above
    # this comment. qc1 is one token explode + groupBy; txt14 is a
    # pure per-row regex projection — both single-pass corpus lines.
    # ds3 re-runs qc1's margin pass but adds the tiered two-level
    # position decomposition on top (the sp4 precedent: a real new
    # pass rides its own line). qc2/cp5/cp6 are deliberately NOT
    # lines (cp4 precedent: pure re-runs of already-priced chains
    # plus a rollup/join).
    "qc1_model_quality_score",
    "txt14_pii_scrub",
    "ds3_quality_curriculum",
    # r12 additions. The r11-comparable subset is everything above
    # this comment. tok1 is a real new corpus pass (one token explode
    # + ~21 codegen merge ops/token + one combine — the qc1 shape);
    # km2 runs the full 2-round integer Lloyd loop (km1 prices the
    # E-step alone); ds4 adds the per-epoch tiered decomposition over
    # ds2's interleave (the ds3 precedent). cp7/cp8 and rf14 are
    # deliberately NOT lines (cp4 precedent: cp7/cp8 re-run the
    # cm2/cp3/txt14 chains plus a rollup; rf floors gate, not price).
    "tok1_subword_token_count",
    "km2_kmeans_train",
    "ds4_epoch_curriculum",
    # tok3 is tok1's memoized execution shape — priced on its own
    # line exactly as the sk1/sk2 alternative shapes are.
    "tok3_memoized_token_count",
]


def _replicated_report(spark, ref_dir: str = "/root/reference"):
    """Factory for the sf0.1-equivalent creator report, or None when the
    reference fixture is absent (partial checkouts: dir present, fixture
    globs empty — require both globs up front so the measured run can't
    raise mid-bench). Returns ``replicated(n_rep) -> DataFrame``."""
    import datetime as dt
    import glob

    if not glob.glob(f"{ref_dir}/*/userInfo.json") or not glob.glob(
        f"{ref_dir}/*/postInfo.json"
    ):
        return None
    from pyspark.sql import functions as F

    from ig_etl_with_user_reports_2024_spark.plans import creator_report as cr

    users = cr.load_users(spark, f"{ref_dir}/*/userInfo.json")
    posts = cr.load_posts(spark, f"{ref_dir}/*/postInfo.json")
    as_of = dt.datetime(2025, 9, 7)

    def replicated(n_rep: int):
        rep = spark.range(n_rep).select(F.col("id").alias("_rep"))
        rekey = F.concat_ws("__", F.col("username"), F.col("_rep"))
        u = users.crossJoin(rep).withColumn("username", rekey).drop("_rep")
        p = posts.crossJoin(rep).withColumn("username", rekey).drop("_rep")
        return cr.creator_report(spark, u, p, as_of=as_of)

    return replicated


def _creator_report_full(spark, ref_dir: str = "/root/reference"):
    """Time the full creator_report DataFrame at sf0.1-equivalent rows.

    Returns wall seconds for one materialization of the ~70-column report
    over ~151k posts / 5.4k creators, or None when the reference fixture
    is absent. Warm pass at 2 replicas first (same compile-warm contract
    as the catalog queries); engine-native half-even rounding (the
    CPython-compat pandas_udf path is an opt-in, not the deployed mode).
    """
    replicated = _replicated_report(spark, ref_dir)
    if replicated is None:
        return None

    # Warm at 10% scale (60 replicas ≈ 15k posts), not a token 2: the
    # report's generated code only crosses the C2 JIT compile threshold
    # with real row volume, and an un-JITted full-scale run measures the
    # interpreter, not the plan (observed 26s vs ~11s steady state).
    try:
        replicated(60).write.format("noop").mode("overwrite").save()
    except Exception:  # noqa: BLE001 — warm-up must never fail the bench
        pass
    df = replicated(600)
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def _wide_csv_full(spark, ref_dir: str = "/root/reference"):
    """Time the jsontocsv stage (flatten_report + X9 sanitize + real CSV
    write) at sf0.1-equivalent creators, report inputs pre-materialized.

    The report DataFrame is persisted and counted OUTSIDE the clock so
    the measured cost is the wide-CSV serialization itself — the per-row
    to_json/pipe-join/regexp work HANDOFF flagged — not a re-run of the
    10-join report plan. Writes real CSV files to a temp dir (the
    serialization cost IS the point; noop would skip the writer).
    Returns wall seconds or None when the reference fixture is absent.
    """
    import shutil
    import tempfile

    from pyspark import StorageLevel

    from ig_etl_with_user_reports_2024_spark.plans import wide_csv

    replicated = _replicated_report(spark, ref_dir)
    if replicated is None:
        return None
    rep = replicated(600).persist(StorageLevel.MEMORY_AND_DISK)
    out = tempfile.mkdtemp(prefix="widecsv_")
    try:
        rep.count()  # untimed: materialize the report into the cache
        try:  # compile-warm the flatten/sanitize codegen on 60 rows
            wide_csv.sanitize_and_write(
                wide_csv.flatten_report(rep.limit(60)), f"{out}/warm"
            )
        except Exception:  # noqa: BLE001 — warm-up must never fail the bench
            pass
        flat = wide_csv.flatten_report(rep)
        t0 = time.time()
        wide_csv.sanitize_and_write(flat, f"{out}/csv")
        return time.time() - t0
    finally:
        rep.unpersist()
        shutil.rmtree(out, ignore_errors=True)


def _loadavg() -> list[float]:
    """1/5/15-min load averages — machine-state stamp for the JSON line.

    The bench host has noisy co-tenants (BENCH_NOTES_r04.md: identical
    back-to-back totals swung 35.4-74.9s); recording load before and
    after lets a reader condition on ambient load instead of trusting
    side notes (VERDICT r4 "Next round" #2).
    """
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except (OSError, AttributeError):
        # platform without getloadavg (missing attribute on Windows,
        # OSError when unobtainable) — stamp as unknown
        return []


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entry_mod
    from ig_etl_with_user_reports_2024_spark.session import get_spark

    spark = get_spark("bench")
    qs = entry_mod.queries()
    load_before = _loadavg()

    # queries flagged eager in the registry do their work inside the
    # query fn (streaming awaitTermination; iterative CC with per-round
    # actions) — the clock must start before construction for them. The
    # flag lives on the @query registration so new eager queries can't
    # be silently mistimed here.
    from ig_etl_with_user_reports_2024_spark.plans import QUERIES as _SPECS

    from ig_etl_with_user_reports_2024_spark.operators.dedup import (
        release_eager_pins,
    )

    def run(name: str) -> float:
        eager = _SPECS[name].eager
        t0 = time.time() if eager else 0.0
        df = qs[name](spark, sf_dir)
        if not eager:
            t0 = time.time()
        try:
            df.write.format("noop").mode("overwrite").save()
            return time.time() - t0
        finally:
            # free this query's eager localCheckpoint blocks (r16, VERDICT
            # r15 #3: bounded checkpoint storage) — also when the write
            # raises, so a failed query's pins are released under its own
            # name, not the next query's. AFTER the clock stops and AFTER
            # the noop write fully materialized the result, so nothing
            # pending can read a freed block; cleanup cost is driver-side
            # and untimed, exactly like the warm passes.
            release_eager_pins()

    # warm-up: JIT + parquet footer caches on a small query, plus the
    # Python/Arrow worker pool (st5's applyInPandasWithState otherwise
    # pays ~2-3s of worker startup inside its measurement)
    qs["k7_top5_preview"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.range(1000).mapInPandas(lambda it: it, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    # sacrificial sf-scale warm of the first two headline lines
    # (VERDICT r13 #4): the per-query warm pass below runs at sf0.001,
    # so the first lines executed at sf_dir used to absorb shared
    # cold-start — executor-thread spin-up, codegen infra, the footers
    # of the tables they scan — into their TIMED numbers (driver
    # artifacts: a4 10.12s vs 1.11-1.41s across five quiet takes, k1
    # 0.79 vs 0.38). One untimed pass pays that once, outside every
    # clock; later lines were never distorted (by their turn the JVM
    # is globally warm). DISCLOSED REGIME CHANGE (r14 review finding):
    # a4/k1 alone now get a prior SAME-PLAN full-scale run, which also
    # crosses the C2 JIT threshold for their generated code (the
    # _creator_report_full precedent) — their timed numbers land
    # slightly BELOW the old single-execution quiet band (a4 ~0.81-0.87
    # vs 1.11-1.41). That is the long-lived-deployment steady state,
    # not an error, but round-over-round ratios for these two lines
    # must baseline at the r14 close recording, not earlier rounds
    # (BENCH_NOTES_r14_quiet.json carries the same warning).
    for _name in HEADLINE[:2]:
        try:
            qs[_name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:  # noqa: BLE001 — warm-up must never fail the bench
            pass
    # compile-warm: immediately before timing each query, run the same
    # plan once at the smoke scale (sf0.001) so the timed number measures
    # data-proportional execution, not first-compile. Catalyst analysis +
    # Janino codegen + C2 JIT of the generated classes cost 2-4s for the
    # larger plans (measured: c12 7.0s first execution vs 1.7s
    # steady-state on identical data) and are one-time costs per plan
    # shape in any long-lived deployment. Interleaved (not one big warm
    # pass up front) because the codegen cache holds ~100 entries — 25
    # plans compiled in a block evict each other before timing.
    # Disclosed tradeoff: numbers below are steady-state, the warm pass
    # itself is unmeasured setup. sf0.001 is ~100x smaller than the
    # benched scale, so no meaningful data caching transfers.
    warm_dir = "/root/testdata/sf0.001"

    def warm(name: str) -> None:
        if not os.path.isdir(warm_dir):
            return
        try:
            qs[name](spark, warm_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:  # noqa: BLE001 — warm-up must never fail the bench
            pass

    timings: dict[str, float] = {}
    for name in HEADLINE:
        warm(name)
        timings[name] = round(run(name), 3)

    # Flagship pipeline end-to-end (VERDICT r3 "Next round" #5): the full
    # creator_report plan (the reference's actual workload) over the
    # 9-creator golden fixture replicated to sf0.1-equivalent scale
    # (600 replicas → ~151k posts, the orders-table grain at sf0.1).
    # Replication is Spark-side (read the 9 docs once, crossJoin a range,
    # re-key username per replica), so the measured cost is the 10-join
    # report plan itself, not JSON parsing.
    cr_t = _creator_report_full(spark)
    if cr_t is not None:
        timings["creator_report_full"] = round(cr_t, 3)
    wc_t = _wide_csv_full(spark)
    if wc_t is not None:
        timings["wide_csv_full"] = round(wc_t, 3)

    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0
    total = round(sum(timings.values()), 3)
    load_after = _loadavg()
    # cpus = the HONORED core count (reporting bugfix, VERDICT r15 #5 /
    # "Next round" #2): session.get_spark masters local[$SPARK_GRAFT_CPUS]
    # and sizes shuffle partitions from the same env var, but this line
    # used to stamp os.cpu_count() — so the driver's 8-core scaling run
    # produced an artifact self-describing as cpus:32 and the scaling
    # block could not be validated. Timing methodology unchanged.
    try:
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    except (KeyError, ValueError):
        cpus = os.cpu_count()  # local[*] fallback, as in session.get_spark
    full = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "load_before": load_before,
        "load_after": load_after,
        "cpus": cpus,
    }
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "bench_queries.json"), "w") as fh:
            json.dump(full, fh)
    except OSError:
        pass  # sidecar is best-effort; stdout lines are the contract
    print(json.dumps(full))
    # summary = full minus the per-query map, built FROM full so the
    # two lines cannot drift field-by-field
    summary = {k: v for k, v in full.items() if k != "queries"}
    summary["n_queries"] = len(timings)
    summary["queries_line"] = "previous stdout line + bench_queries.json"
    # top20: the 20 most expensive lines, inside the BOUNDED final line
    # (VERDICT r15 "Next round" #2): the full per-query stdout line
    # outgrew the driver's tail-capture window, so PERF's per-query /
    # geomean / scaling blocks came back empty every round. 20 entries
    # is bounded regardless of catalog growth and covers >70% of total
    # wall at the r15 close, enough for per-query deltas on every line
    # an optimization round targets. ADDITIVE: nothing removed/renamed.
    summary["top20"] = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:20]
    )
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
