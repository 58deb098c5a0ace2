"""cm1_corpus_manifest contract tests beyond the oracle net: every
document gets exactly one manifest row, including token-less documents
(which txt8 has no row for — the left-join + null-as-not-keep path)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod


@pytest.fixture(scope="module")
def tiny_sf(spark):
    # a documents table with an empty-text and a whitespace-only doc —
    # both tokenize to nothing, so txt8 emits no row for them
    out = tempfile.mkdtemp(prefix="manifest_sf_")
    spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again", "en", "src0", 60),
            (2, "the quick brown fox jumps over the lazy dog again and again", "en", "src0", 60),
            (3, "", "en", "src1", 0),
            (4, "   ", "en", "src1", 3),
            (5, "completely different words here that share nothing at all okay", "en", "src2", 62),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    yield out
    shutil.rmtree(out, ignore_errors=True)


def test_manifest_covers_every_document(spark, tiny_sf):
    out = entry_mod.queries()["cm1_corpus_manifest"](spark, tiny_sf)
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3, 4, 5}  # token-less docs 3/4 included
    # token-less train docs are drop_quality with a null score, never
    # missing — unless the hash split holds them out
    for d in (3, 4):
        assert rows[d].action in ("drop_quality", "hold_out")
        assert rows[d].quality_score is None
    # the duplicate pair: exactly one of (1, 2) survives dedup unless
    # held out / contaminated by the split
    actions = {rows[1].action, rows[2].action}
    assert "drop_duplicate" in actions or actions <= {"hold_out", "drop_contaminated"}


def test_cm1_cluster_split_collapses_contamination(spark, sf_oracle):
    """The r11 split re-key, measured (VERDICT r10 #1, dc4 convention —
    before/after in one pin): under the old DOC-hash split, dc2's sweep
    flags 12 contaminated train docs at sf0.01; under cm1's CLUSTER
    split the manifest's drop_contaminated collapses to 1 — the
    borderline residue dc2's recall-first (8,4) bands see but dd11's
    verified (16,4)+τ merge does not. Also pins the structural
    guarantees: (a) every dd11 cluster is single-split in cm1 (members
    can't straddle train/hold_out), and (b) each residual contaminated
    doc's dc2 eval-match really is OUTSIDE its own dup cluster (it is
    borderline similarity, not a missed duplicate)."""
    from ig_etl_with_user_reports_2024_spark.plans import star_sampling
    from ig_etl_with_user_reports_2024_spark.sources.readers import load_table

    cm1 = entry_mod.queries()["cm1_corpus_manifest"](spark, sf_oracle).collect()
    # (before) standalone dc2 = the doc-hash-split sweep; its output IS
    # the old cm1's drop_contaminated set (train docs with a collision)
    docs = load_table(spark, sf_oracle, "documents")
    before = star_sampling.fuzzy_decontaminate_plan(spark, docs).collect()
    assert len(before) == 12, "doc-split contamination moved at sf0.01"
    contaminated = [r for r in cm1 if r.action == "drop_contaminated"]
    assert len(contaminated) == 1, "cluster-split residue moved at sf0.01"

    # (a) no dd11 cluster straddles the split
    by_cluster: dict = {}
    for r in cm1:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_cluster.values())

    # (b) the residue is borderline, not a missed dup: its eval match
    # sits in a DIFFERENT dd11 cluster
    cluster_of = {r.doc_id: r.cluster_id for r in cm1}
    split_of = {r.doc_id: r.split for r in cm1}
    residue = star_sampling.fuzzy_decontaminate_plan(
        spark,
        docs,
        split=spark.createDataFrame(
            [(d, s) for d, s in split_of.items()], "doc bigint, split string"
        ),
    ).collect()
    assert {r.doc_id for r in residue} == {r.doc_id for r in contaminated}
    for r in residue:
        assert cluster_of[r.doc_id] != cluster_of[r.first_eval_match]


def test_rekeyed_canon_bands_equal_direct_bands(spark, sf_oracle):
    """cm1's shared-intermediates claim (r7): deriving dc2's band table
    by re-keying the canon docs' bands through the digest map is an
    EQUALITY, not an approximation — identical text means identical
    MinHash signature, so every doc's (band, bucket) set matches the
    direct portable_minhash_bands over all documents, and the dc2
    output built from either table is identical."""
    from ig_etl_with_user_reports_2024_spark.operators import dedup as dd
    from ig_etl_with_user_reports_2024_spark.plans import star_pipeline, star_sampling
    from ig_etl_with_user_reports_2024_spark.sources.readers import load_table

    docs = load_table(spark, sf_oracle, "documents")
    tagged = star_pipeline.digest_tagged(docs)
    canon = tagged.filter(F.col("is_canon")).select("doc_id", "text")
    sh_canon = dd.exploded_shingles(canon, "doc_id", "text")
    # (8,4) EXPLICITLY on every builder: dc2's recall-first banding is
    # deliberate (the injected `bands` contract is "dc2's banding"),
    # and since r10 the builder DEFAULTS are the tuned (16,4) — the
    # exact silent-mismatch ADVICE r9 warned about, which this test
    # caught on first contact with the new defaults.
    rekeyed = (
        tagged.select("doc_id", "canon_id")
        .join(
            dd.portable_minhash_bands_from_shingles(sh_canon, 8, 4)
            .withColumnRenamed("doc", "canon_id"),
            "canon_id",
        )
        .select(F.col("doc_id").alias("doc"), "band", "bucket")
    )
    direct = dd.portable_minhash_bands(docs, "doc_id", "text", 8, 4)
    assert {tuple(r) for r in rekeyed.collect()} == {
        tuple(r) for r in direct.collect()
    }
    via_rekey = {
        tuple(r)
        for r in star_sampling.fuzzy_decontaminate_plan(
            spark, docs, bands=rekeyed
        ).collect()
    }
    standalone = {
        tuple(r)
        for r in star_sampling.fuzzy_decontaminate_plan(spark, docs).collect()
    }
    assert via_rekey == standalone


def test_cm2_covers_exactly_the_arriving_slice(spark, sf_oracle):
    """cm2 emits exactly one row per arriving doc (the deterministic
    hash slice), its action domain is the 4-value cascade, and every
    drop_exact doc really has a digest twin that precedes it (existing
    side, or a lower arriving doc_id)."""
    from ig_etl_with_user_reports_2024_spark.operators import sampling as sp
    from ig_etl_with_user_reports_2024_spark.plans.star_manifest import (
        _CM2_ARRIVE_FRAC,
        _CM2_SALT,
    )
    from ig_etl_with_user_reports_2024_spark.sources.readers import load_table

    out = entry_mod.queries()["cm2_incremental_admission"](spark, sf_oracle)
    rows = out.collect()
    docs = load_table(spark, sf_oracle, "documents")
    arriving = docs.filter(
        sp.hash_bucket(F.col("doc_id"), _CM2_SALT)
        < sp.hex_threshold(_CM2_ARRIVE_FRAC)
    )
    arr_ids = {r.doc_id for r in arriving.select("doc_id").collect()}
    assert {r.doc_id for r in rows} == arr_ids
    assert len(rows) == len(arr_ids)
    assert {r.action for r in rows} <= {
        "drop_exact", "drop_near", "drop_quality", "admit"
    }
    # drop_exact implies a preceding digest twin
    dg = {
        r.doc_id: r.dg
        for r in docs.select(
            "doc_id",
            F.coalesce(F.md5("text"), F.lit("<null>")).alias("dg"),
        ).collect()
    }
    for r in rows:
        if r.action == "drop_exact":
            assert any(
                dg[other] == dg[r.doc_id]
                and (other not in arr_ids or other < r.doc_id)
                for other in dg
                if other != r.doc_id
            ), f"doc {r.doc_id} drop_exact without a preceding twin"


def test_cp5_is_exactly_the_scrubbed_keep_set(spark, sf_oracle):
    """cp5's composition contract: its doc_ids are EXACTLY cm1's keep
    set; its scrub columns are row-for-row txt14's; n_redactions is
    the per-class sum (all zero on the PII-free synthetic corpus —
    txt14's disclosed vacuity; redaction semantics live in the txt14
    fixture test)."""
    qs = entry_mod.queries()
    cp5 = {r.doc_id: r for r in qs["cp5_scrubbed_release"](spark, sf_oracle).collect()}
    keeps = {
        r.doc_id
        for r in qs["cm1_corpus_manifest"](spark, sf_oracle).collect()
        if r.action == "keep"
    }
    assert set(cp5) == keeps and keeps
    scrub = {r.doc: r for r in qs["txt14_pii_scrub"](spark, sf_oracle).collect()}
    for d, r in cp5.items():
        s = scrub[d]
        assert (r.n_emails, r.n_phones, r.n_handles, r.scrubbed_md5) == (
            s.n_emails, s.n_phones, s.n_handles, s.scrubbed_md5,
        )
        assert r.n_redactions == r.n_emails + r.n_phones + r.n_handles


def test_cp6_checksum_is_order_insensitive_and_multi_shard(spark):
    """cp6's rollup at its REAL grain (the gate corpus packs into a
    single shard, so the registered verdict exercises one group): a
    constructed 2500-doc layout spans 3 shards; per-shard checksums
    match a Python recompute of the md5-prefix sum; and the checksum
    is ORDER-INSENSITIVE — recomputing over a shuffled/repartitioned
    copy of the same shard membership gives identical values (the
    property that lets a consumer verify a shard's files in any
    order)."""
    import hashlib

    from pyspark.sql import functions as F

    from ig_etl_with_user_reports_2024_spark.operators.textops import pii_scrub

    rows = [(i, 1000 + i % 7, f"doc number {i} text with mail u{i}@ex.org")
            for i in range(2500)]
    docs = spark.createDataFrame(rows, "doc bigint, n_tokens bigint, text string")
    scrub = pii_scrub(docs.withColumnRenamed("doc", "doc_id"), "doc_id", "text")
    layout = docs.select("doc", (F.col("doc") / 1000).cast("bigint").alias("shard"), "n_tokens")
    chk = F.conv(F.substring("scrubbed_md5", 1, 12), 16, 10).cast("bigint")
    out = {
        r.shard: r
        for r in layout.join(scrub, "doc")
        .groupBy("shard")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum(chk).cast("bigint").alias("shard_checksum"),
        )
        .collect()
    }
    assert set(out) == {0, 1, 2}
    assert [out[s].n_docs for s in (0, 1, 2)] == [1000, 1000, 500]

    # python recompute, iterating in a DIFFERENT (reversed) order
    import re as _re
    expect = {0: 0, 1: 0, 2: 0}
    for i, _, text in reversed(rows):
        t = text.replace(f"u{i}@ex.org", "<EMAIL>")
        md5 = hashlib.md5(t.encode()).hexdigest()
        expect[i // 1000] += int(md5[:12], 16)
    for s in (0, 1, 2):
        assert out[s].shard_checksum == expect[s], s

    # order-insensitivity on the Spark side too: shuffled input, same sums
    out2 = {
        r.shard: r.shard_checksum
        for r in layout.repartition(17, "n_tokens")
        .join(scrub, "doc")
        .groupBy("shard")
        .agg(F.sum(chk).cast("bigint").alias("shard_checksum"))
        .collect()
    }
    assert out2 == {s: out[s].shard_checksum for s in out}


def test_cp7_is_exactly_the_scrubbed_admit_set(spark, sf_oracle):
    """cp7's composition contract (cp5's, at the batch grain): its
    doc_ids are EXACTLY cm2's admit set; its scrub columns are
    row-for-row txt14's; n_redactions is the per-class sum (all zero
    on the PII-free synthetic corpus — txt14's disclosed vacuity;
    redaction semantics live in the txt14 fixture test)."""
    qs = entry_mod.queries()
    cp7 = {
        r.doc_id: r
        for r in qs["cp7_scrubbed_delta_store"](spark, sf_oracle).collect()
    }
    admits = {
        r.doc_id
        for r in qs["cm2_incremental_admission"](spark, sf_oracle).collect()
        if r.action == "admit"
    }
    assert set(cp7) == admits and admits
    scrub = {r.doc: r for r in qs["txt14_pii_scrub"](spark, sf_oracle).collect()}
    for d, r in cp7.items():
        s = scrub[d]
        assert (r.n_emails, r.n_phones, r.n_handles, r.scrubbed_md5) == (
            s.n_emails, s.n_phones, s.n_handles, s.scrubbed_md5,
        )
        assert r.n_redactions == r.n_emails + r.n_phones + r.n_handles


def test_cp8_rolls_up_exactly_the_delta_release(spark, sf_oracle):
    """cp8's gate-scale contract: every row is release='delta', the
    (release, shard) set equals cp3's layout, and each shard's counts
    and checksum are a Python recompute over cp3 ⋈ txt14's collected
    rows — the rollup is exact, not just hash-green."""
    qs = entry_mod.queries()
    cp3 = qs["cp3_incremental_release"](spark, sf_oracle).collect()
    scrub = {r.doc: r for r in qs["txt14_pii_scrub"](spark, sf_oracle).collect()}
    out = {
        (r.release, r.shard): r
        for r in qs["cp8_delta_shard_integrity"](spark, sf_oracle).collect()
    }
    assert out and all(rel == "delta" for rel, _ in out)
    assert set(out) == {(r.release, r.shard) for r in cp3}
    expect: dict = {}
    for r in cp3:
        e = expect.setdefault((r.release, r.shard), [0, 0, 0, 0])
        s = scrub[r.doc]
        e[0] += 1
        e[1] += r.n_tokens
        e[2] += s.n_emails + s.n_phones + s.n_handles
        e[3] += int(s.scrubbed_md5[:12], 16)
    for k, r in out.items():
        assert [r.n_docs, r.n_tokens, r.n_redactions, r.shard_checksum] == expect[k]


def test_cp8_grain_is_release_keyed_and_multi_shard(spark):
    """cp8's rollup at its REAL grain (the gate-scale batch packs into
    one delta shard): a constructed 2500-doc delta layout spans 3
    shards under the 'delta' namespace; per-(release, shard) checksums
    match a Python recompute; and the checksum is order-insensitive
    under repartitioning (cp6's fixture convention, with the release
    key that distinguishes the merged table's namespaces)."""
    import hashlib

    from pyspark.sql import functions as F

    from ig_etl_with_user_reports_2024_spark.operators.textops import pii_scrub

    rows = [(i, 1000 + i % 7, f"delta doc {i} reach me at d{i}@ex.org")
            for i in range(2500)]
    docs = spark.createDataFrame(rows, "doc bigint, n_tokens bigint, text string")
    scrub = pii_scrub(docs.withColumnRenamed("doc", "doc_id"), "doc_id", "text")
    layout = docs.select(
        F.lit("delta").alias("release"),
        "doc",
        (F.col("doc") / 1000).cast("bigint").alias("shard"),
        "n_tokens",
    )
    chk = F.conv(F.substring("scrubbed_md5", 1, 12), 16, 10).cast("bigint")
    out = {
        (r.release, r.shard): r
        for r in layout.join(scrub, "doc")
        .groupBy("release", "shard")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(chk).cast("bigint").alias("shard_checksum"),
        )
        .collect()
    }
    assert set(out) == {("delta", 0), ("delta", 1), ("delta", 2)}
    assert [out[("delta", s)].n_docs for s in (0, 1, 2)] == [1000, 1000, 500]
    expect = {0: 0, 1: 0, 2: 0}
    for i, _, text in reversed(rows):
        t = text.replace(f"d{i}@ex.org", "<EMAIL>")
        expect[i // 1000] += int(hashlib.md5(t.encode()).hexdigest()[:12], 16)
    for s in (0, 1, 2):
        assert out[("delta", s)].shard_checksum == expect[s], s
    out2 = {
        (r.release, r.shard): r.shard_checksum
        for r in layout.repartition(17, "n_tokens")
        .join(scrub, "doc")
        .groupBy("release", "shard")
        .agg(F.sum(chk).cast("bigint").alias("shard_checksum"))
        .collect()
    }
    assert out2 == {k: out[k].shard_checksum for k in out}


def test_cp9_is_exactly_the_flagged_rollup(spark, sf_oracle):
    """cp9's gate-scale contract: recompute the whole table from cp1's
    / cp3's / txt14's collected rows under the same salted flag —
    affected-shard set, before/after counts, and both checksums must
    match, every emitted row must lose >= 1 doc, and the checksum
    delta must equal exactly the removed members' md5-prefix terms
    (the patchability property: a rewriter never re-reads survivors
    to produce the new verification row)."""
    import hashlib

    qs = entry_mod.queries()
    lay = [("full", r.doc, r.shard, r.n_tokens)
           for r in qs["cp1_curated_corpus"](spark, sf_oracle).collect()]
    lay += [(r.release, r.doc, r.shard, r.n_tokens)
            for r in qs["cp3_incremental_release"](spark, sf_oracle).collect()]
    scrub = {r.doc: r.scrubbed_md5
             for r in qs["txt14_pii_scrub"](spark, sf_oracle).collect()}
    out = {(r.release, r.shard): r
           for r in qs["cp9_takedown_rewrite"](spark, sf_oracle).collect()}
    expect: dict = {}
    for rel, doc, shard, n_tokens in lay:
        td = hashlib.md5(f"takedown:{doc}".encode()).hexdigest()[:2] < "10"
        e = expect.setdefault((rel, shard), [0, 0, 0, 0, 0, 0, 0])
        chk = int(scrub[doc][:12], 16)
        e[0] += 1
        e[1] += n_tokens
        e[2] += chk
        if td:
            e[3] += 1
        else:
            e[4] += 1
            e[5] += n_tokens
            e[6] += chk
    affected = {k: v for k, v in expect.items() if v[3] > 0}
    assert set(out) == set(affected) and out, "affected-shard set mismatch"
    for k, r in out.items():
        assert [r.n_docs_before, r.n_tokens_before, r.checksum_before,
                r.n_removed, r.n_docs_after, r.n_tokens_after,
                r.checksum_after] == affected[k], k
        assert r.n_removed >= 1
        # patchability: delta == removed terms only
        removed_sum = r.checksum_before - r.checksum_after
        assert removed_sum > 0 or r.n_removed == r.n_docs_before


def test_cp9_untouched_shards_emit_no_row_and_both_namespaces(spark):
    """cp9's rollup at its REAL grain (gate scale hits one shard of
    one namespace): a constructed layout places every flagged doc in
    designated shards and NONE in a control shard, across BOTH
    release namespaces — the control shard must be ABSENT (untouched
    shards keep their cp6/cp8 rows; emitting them would schedule
    no-op rewrites), affected shards in both namespaces must appear,
    and after-checksums must match a Python recompute over survivors
    only."""
    import hashlib

    from pyspark.sql import functions as F

    from ig_etl_with_user_reports_2024_spark.operators.textops import pii_scrub
    from ig_etl_with_user_reports_2024_spark.plans.star_manifest import (
        takedown_rewrite_rollup,
    )

    ids = list(range(4000))
    flagged = {i for i in ids
               if hashlib.md5(f"takedown:{i}".encode()).hexdigest()[:2] < "10"}
    assert flagged and len(flagged) < len(ids)

    def place(i: int) -> tuple[str, int]:
        if i in flagged:
            return ("full", 0) if i % 2 == 0 else ("delta", 10)
        return ("full", 1) if i % 3 == 0 else ("delta", 10)

    rows = [(place(i)[0], i, place(i)[1], 100 + i % 9, f"fixture doc {i}")
            for i in ids]
    layout = spark.createDataFrame(
        rows, "release string, doc bigint, shard bigint, n_tokens bigint, text string"
    )
    scrub = pii_scrub(
        layout.select(F.col("doc").alias("doc_id"), "text"), "doc_id", "text"
    )
    out = {(r.release, r.shard): r
           for r in takedown_rewrite_rollup(
               layout.select("release", "doc", "shard", "n_tokens"), scrub
           ).collect()}
    # ('full', 1) holds only unflagged docs -> absent; the others hit
    assert ("full", 1) not in out
    assert set(out) == {("full", 0), ("delta", 10)}
    assert out[("full", 0)].n_docs_after == 0  # all-flagged shard empties
    exp_after = sum(
        int(hashlib.md5(f"fixture doc {i}".encode()).hexdigest()[:12], 16)
        for i in ids if place(i) == ("delta", 10) and i not in flagged
    )
    assert out[("delta", 10)].checksum_after == exp_after
    assert out[("delta", 10)].n_removed == sum(
        1 for i in flagged if place(i) == ("delta", 10)
    )


def test_dq5_suite_green_on_consistent_fixture_and_red_on_tampered(spark):
    """dq5's contract at its REAL grain: on a constructed, internally
    consistent six-artifact release every expectation passes except
    full_delta_disjoint's honest overlap (here constructed disjoint →
    all seven green); then each artifact is tampered in turn and
    exactly the matching expectation goes red — the only place the
    consistency expectations' violation branches can occur, since the
    registered chain derives store and integrity from one keep set
    (the entry's disclosure)."""
    import hashlib

    from pyspark.sql import functions as F

    from ig_etl_with_user_reports_2024_spark.plans.star_manifest import (
        release_expectation_suite,
    )

    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    full_ids = list(range(2500))
    delta_ids = list(range(10_000, 10_300))
    lf = spark.createDataFrame(
        [(i, i // 1000, 100 + i % 9) for i in full_ids],
        "doc bigint, shard bigint, n_tokens bigint",
    )
    sf_ = spark.createDataFrame(
        [(i, 0, md5(f"t{i}")) for i in full_ids],
        "doc_id bigint, n_redactions bigint, scrubbed_md5 string",
    )
    ld = spark.createDataFrame(
        [("r1", i, 10 + (i - 10_000) // 200, 50 + i % 5)
         for i in delta_ids],
        "release string, doc bigint, shard bigint, n_tokens bigint",
    )
    sd = spark.createDataFrame(
        [(i, 0, md5(f"t{i}")) for i in delta_ids],
        "doc_id bigint, n_redactions bigint, scrubbed_md5 string",
    )

    def integ(layout, keys):
        chk = F.conv(F.substring("scrubbed_md5", 1, 12), 16, 10).cast(
            "bigint"
        )
        return (
            layout.join(
                (sf_ if keys == ["shard"] else sd).withColumnRenamed(
                    "doc_id", "doc"
                ),
                "doc",
            )
            .groupBy(*keys)
            .agg(
                F.count("*").cast("bigint").alias("n_docs"),
                F.sum("n_tokens").cast("bigint").alias("n_tokens"),
                F.sum("n_redactions").cast("bigint").alias("n_redactions"),
                F.sum(chk).cast("bigint").alias("shard_checksum"),
            )
        )

    if_ = integ(lf, ["shard"])
    id_ = integ(ld, ["release", "shard"])

    def run(lf=lf, sf__=sf_, if__=None, ld=ld, sd__=sd, id__=None):
        out = release_expectation_suite(
            lf, sf__, if_ if if__ is None else if__,
            ld, sd__, id_ if id__ is None else id__,
        ).collect()
        assert len(out) == 8
        return {(r.table_name, r.expectation): r for r in out}

    base = run()
    assert all(r.passed for r in base.values()), base
    assert base[("release_full", "shard_integrity_consistent")].n_rows == 3
    assert base[("release_delta", "shard_integrity_consistent")].n_rows == 2
    assert base[("release_merged", "full_delta_disjoint")].n_rows == 2800

    # 1 — store loses a doc the layout references
    r = run(sf__=sf_.filter(F.col("doc_id") != 7))
    assert not r[("release_full", "layout_docs_in_store")].passed
    assert r[("release_full", "layout_docs_in_store")].n_violations == 1
    # ...which also breaks that shard's published integrity row
    assert not r[("release_full", "shard_integrity_consistent")].passed

    # 2 — store ships a doc twice (each store has its own uniqueness
    # expectation; the delta twin also guards the referential joins'
    # distinct-key shape)
    r = run(sf__=sf_.unionByName(sf_.filter(F.col("doc_id") == 7)))
    assert r[("release_full", "doc_id_unique")].n_violations == 1
    r = run(sd__=sd.unionByName(sd.filter(F.col("doc_id") == 10_001)))
    assert r[("release_delta", "doc_id_unique")].n_violations == 1
    assert r[("release_delta", "layout_docs_in_store")].passed

    # 3 — a delta doc also present in the full store
    leak = sf_.filter(F.col("doc_id") == 7)
    r = run(sd__=sd.unionByName(leak))
    assert not r[("release_merged", "full_delta_disjoint")].passed
    assert r[("release_merged", "full_delta_disjoint")].n_violations == 1

    # 4 — tampered full-integrity checksum on one shard
    bad_if = if_.withColumn(
        "shard_checksum",
        F.when(F.col("shard") == 1, F.col("shard_checksum") + 1).otherwise(
            F.col("shard_checksum")
        ),
    )
    r = run(if__=bad_if)
    assert r[("release_full", "shard_integrity_consistent")].n_violations == 1

    # 5 — delta integrity loses a shard row (full-outer catches it)
    r = run(id__=id_.filter(F.col("shard") != 10))
    assert not r[("release_delta", "shard_integrity_consistent")].passed

    # 6 — negative redaction count in the delta store
    bad_sd = sd.withColumn(
        "n_redactions",
        F.when(F.col("doc_id") == 10_001, F.lit(-1)).otherwise(
            F.col("n_redactions")
        ),
    )
    r = run(sd__=bad_sd)
    assert r[("release_merged", "scrub_columns_sane")].n_violations == 1


def test_dq5_oracle_evaluates_each_chain_cte_once(sf_smoke):
    """dq5's DuckDB oracle nests the whole cp chain, and several CTEs
    inside it (cp1/cp3's adm, sql_temperature_mix's nz/tot, cm1's
    base) are read more than once. Inlined per reference, their
    re-evaluations multiply through the nesting: at sf0.001 the oracle
    then exhausted DuckDB's default 12.5 GiB limit. Materialized, it
    fits in 2 GB with 4 threads. The bounded limit makes a return of
    the per-reference regime fail here, on any host, instead of only
    running slowly where memory is plentiful."""
    from tools.oracle_check import duck_connect

    con = duck_connect(sf_smoke)
    try:
        con.execute("SET threads=4")
        con.execute("SET memory_limit='4GB'")
        rows = con.execute(
            entry_mod.oracle_sql()["dq5_release_expectations"]
        ).fetchall()
    finally:
        con.close()
    assert len(rows) == 8


def test_cp10_verify_then_repair_worklist_restores_dq5_green(spark):
    """cp10's verify-then-repair loop, pinned where it can actually
    occur (VERDICT r13 "What's missing" #4 / HANDOFF r13: on the real
    chain every integrity row is green, so a registered entry would be
    0-row vacuity — the tampered-fixture-only treatment, cp9's
    convention): given a release whose published integrity table has
    drifted from store ∪ layout (one corrupted checksum, one lost
    shard row), the repair work-list is EXACTLY the failing keys —
    recomputed from the verified sources the dq5 suite itself uses —
    and patching only those rows turns the suite's
    shard_integrity_consistent expectations green again. Minimality is
    the point (the cp9 untouched-shards principle): at 100 TB the
    restore path rewrites |failing shards| verification rows, never
    the corpus."""
    import hashlib

    from pyspark.sql import functions as F

    from ig_etl_with_user_reports_2024_spark.plans.star_manifest import (
        release_expectation_suite,
    )

    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    full_ids = list(range(2500))
    delta_ids = list(range(10_000, 10_300))
    lf = spark.createDataFrame(
        [(i, i // 1000, 100 + i % 9) for i in full_ids],
        "doc bigint, shard bigint, n_tokens bigint",
    )
    sf_ = spark.createDataFrame(
        [(i, 0, md5(f"t{i}")) for i in full_ids],
        "doc_id bigint, n_redactions bigint, scrubbed_md5 string",
    )
    ld = spark.createDataFrame(
        [("r1", i, 10 + (i - 10_000) // 200, 50 + i % 5) for i in delta_ids],
        "release string, doc bigint, shard bigint, n_tokens bigint",
    )
    sd = spark.createDataFrame(
        [(i, 0, md5(f"t{i}")) for i in delta_ids],
        "doc_id bigint, n_redactions bigint, scrubbed_md5 string",
    )

    def recompute(layout, store, keys):
        chk = F.conv(F.substring("scrubbed_md5", 1, 12), 16, 10).cast(
            "bigint"
        )
        return (
            layout.join(store.withColumnRenamed("doc_id", "doc"), "doc")
            .groupBy(*keys)
            .agg(
                F.count("*").cast("bigint").alias("n_docs"),
                F.sum("n_tokens").cast("bigint").alias("n_tokens"),
                F.sum("n_redactions").cast("bigint").alias("n_redactions"),
                F.sum(chk).cast("bigint").alias("shard_checksum"),
            )
        )

    if_good = recompute(lf, sf_, ["shard"])
    id_good = recompute(ld, sd, ["release", "shard"])

    # published integrity drifts: full shard 1's checksum corrupted,
    # delta shard 10's row lost entirely
    if_bad = if_good.withColumn(
        "shard_checksum",
        F.when(
            F.col("shard") == 1, F.col("shard_checksum") + 1
        ).otherwise(F.col("shard_checksum")),
    )
    id_bad = id_good.filter(F.col("shard") != 10)

    def suite(if__, id__):
        out = release_expectation_suite(lf, sf_, if__, ld, sd, id__).collect()
        return {(r.table_name, r.expectation): r for r in out}

    red = suite(if_bad, id_bad)
    assert red[("release_full", "shard_integrity_consistent")].n_violations == 1
    assert red[("release_delta", "shard_integrity_consistent")].n_violations == 1

    # VERIFY: the work-list = keys whose published row is missing or
    # disagrees with the recompute (null-safe full-outer compare — the
    # suite's own ok-predicate at key grain)
    def worklist(good, bad, keys):
        g = good.select(*keys, *(F.col(c).alias(f"_g_{c}") for c in
                                 ("n_docs", "n_tokens", "n_redactions",
                                  "shard_checksum")))
        j = g.join(bad, keys, "left")
        mismatch = ~(
            F.col("_g_n_docs").eqNullSafe(F.col("n_docs"))
            & F.col("_g_n_tokens").eqNullSafe(F.col("n_tokens"))
            & F.col("_g_n_redactions").eqNullSafe(F.col("n_redactions"))
            & F.col("_g_shard_checksum").eqNullSafe(F.col("shard_checksum"))
        )
        return j.filter(mismatch).select(*keys)

    wl_full = {r.shard for r in worklist(if_good, if_bad, ["shard"]).collect()}
    wl_delta = {(r.release, r.shard)
                for r in worklist(id_good, id_bad, ["release", "shard"]).collect()}
    assert wl_full == {1}, wl_full          # minimal: ONLY the tampered key
    assert wl_delta == {("r1", 10)}, wl_delta

    # REPAIR: replace exactly the work-list rows with recomputed ones
    def repair(bad, good, wl_keys, keys):
        keep = bad.join(wl_keys, keys, "left_anti")
        fixed = good.join(wl_keys, keys, "inner")
        return keep.unionByName(fixed)

    if_fixed = repair(if_bad, if_good,
                      worklist(if_good, if_bad, ["shard"]), ["shard"])
    id_fixed = repair(id_bad, id_good,
                      worklist(id_good, id_bad, ["release", "shard"]),
                      ["release", "shard"])
    green = suite(if_fixed, id_fixed)
    assert green[("release_full", "shard_integrity_consistent")].passed
    assert green[("release_delta", "shard_integrity_consistent")].passed
    # and the repair changed nothing else in the suite
    for k in red:
        if k[1] != "shard_integrity_consistent":
            assert green[k].n_violations == red[k].n_violations, k
