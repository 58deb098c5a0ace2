"""The curation end product: one manifest row per document with the
final keep/drop decision and why.

Every family in the catalog produces a *judgement* about a document —
dd11 says "duplicate of cluster X", dc2 says "collides with an eval
doc", txt8 says "too repetitive / wrong length", sp1 says "this is
held-out eval data". A training run consumes none of those directly;
it consumes the MANIFEST that folds them into a single action per doc.
cm1 is that fold, built by composing the registered catalog queries
themselves (the Spark side calls the same plan functions the driver
checks individually; the oracle nests their oracle SQL as CTEs), so
the composition is hash-checked end-to-end, not re-derived.

Decision cascade (first match wins — mirrors the priority a curation
pipeline applies):

    1. split <> 'train'      -> 'hold_out'          (eval/val data)
    2. dc2 collision         -> 'drop_contaminated' (leaked eval)
    3. dd11 kept = false     -> 'drop_duplicate'    (near-dup cluster)
    4. txt8 keep = false     -> 'drop_quality'      (filter verdict)
    5. otherwise             -> 'keep'

The split in step 1 is CLUSTER-grain since r11 (VERDICT r10 #1): it
hashes dd11's dup-cluster id — already inside this composition — so a
near-dup cluster is held out or trained WHOLE (sp4's guarantee,
applied to the corpus the pipeline actually releases; dc4 measured
the doc-hash split leaking 6/11/86 exact prefix-twins tri-scale vs 0
under the cluster split). The dc2 sweep in step 2 runs against the
SAME split, so 'drop_contaminated' is reduced to the borderline
residue — train/hold_out pairs dc2's recall-first (8,4) bands catch
but dd11's verified (16,4)+τ merge does not (7→1 / 12→1 / 226→141
docs at sf0.001/0.01/0.1, pinned at sf0.01 in tests/test_manifest.py;
the sf0.1 residue is large because that corpus is dense in borderline
pairs — dd16 measured verify_precision 0.31 there, i.e. most (8,4)
band collisions are below dd11's merge threshold, exactly the
similarity band a recall-first decontamination sweep exists to
drop). Singleton docs keep
sp1's bit-exact assignment (same salt, cluster_id == doc_id).
cp1/cp2/cp4 nest cm1's oracle, so the whole release family moves in
lockstep; cp3/cm2 are split-free (admission against stores) and are
unaffected.

Scale note (shared intermediates, since r7): the composition derives
ONE digest-tagged table and ONE canon-doc shingle explode
(pin_bounded here; a checkpointed table at 100 TB) and threads them
through both subtrees — dd11 consumes the shingles directly, dc2's
per-doc band table is the canon bands re-keyed through the digest map
(identical text → identical signature, an equality not an
approximation), so the 8-md5-per-shingle signature pass runs once
over digest-DISTINCT texts only. The manifest join itself is two
doc_id-grain equi-joins (base — the split over dd11's keep-list —
LEFT JOIN txt8, LEFT JOIN the dc2 flags; the former third join
disappeared in r11 when base absorbed the keep-list), shuffle size ∝
corpus row count with metadata-width rows, never text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as dd
from ..operators import packing as pk
from ..operators import sampling
from ..operators import textops as tx
from ..operators.sampling import hash_split, sql_hash_split
from ..sources.readers import load_table

# Side-effect imports: the composed oracles below look up dd11/txt8/dc2
# in the registry at import time, so this module must be able to load
# STANDALONE (a bare `import plans.star_manifest` crashed with KeyError
# when nothing had imported the dependency modules first — review
# finding). No cycle: neither module imports star_manifest.
from . import star_pipeline  # noqa: F401
from . import star_sampling  # noqa: F401
from .registry import QUERIES, query

# Compose the oracle from the already-registered building blocks —
# import order in __spark_entry__ guarantees they exist (this module is
# imported last). Nesting a `WITH RECURSIVE` body (dd11) inside a CTE
# is valid DuckDB.
# The hold_out split is CLUSTER-grain since r11 (VERDICT r10 #1): base
# hashes dd11's cluster_id, not the doc_id, so a near-dup cluster can
# never straddle the train/hold_out boundary (sp4's guarantee, applied
# to the corpus the pipeline actually releases). The dc2 subtree sweeps
# against the SAME split (sql_fuzzy_decontaminate's injectable sp rel —
# sweeping doc-split contamination while holding out whole clusters
# would flag pairs the split already co-locates), so what remains of
# 'drop_contaminated' is exactly the borderline residue: pairs dc2's
# recall-first (8,4) bands see but dd11's verified (16,4)+τ merge does
# not (7→1 / 12→1 / 226→141 tri-scale, pinned in test_manifest).
_CM1_SQL = f"""
    WITH dd10 AS ({{dd10}}),
    t8 AS ({{txt8}}),
    base AS MATERIALIZED (
        SELECT doc_id, cluster_id, kept,
               {sql_hash_split('cluster_id')} AS split
        FROM dd10
    ),
    dc2x AS ({{dc2}})
    SELECT b.doc_id, b.split,
           CASE WHEN b.split <> 'train' THEN 'hold_out'
                WHEN c.doc_id IS NOT NULL THEN 'drop_contaminated'
                WHEN NOT b.kept THEN 'drop_duplicate'
                WHEN NOT COALESCE(t.keep, false) THEN 'drop_quality'
                ELSE 'keep' END AS action,
           b.cluster_id, t.quality_score
    FROM base b
    LEFT JOIN t8 t ON b.doc_id = t.doc_id
    LEFT JOIN dc2x c ON b.doc_id = c.doc_id
"""


@query(
    "cm1_corpus_manifest",
    _CM1_SQL.format(
        dd10=QUERIES["dd11_staged_keep_list"].oracle,
        txt8=QUERIES["txt8_filter_verdict"].oracle,
        dc2=star_sampling.sql_fuzzy_decontaminate(
            "SELECT doc_id AS doc, split FROM base"
        ),
    ),
    # composes dd11, whose connected-components run per-round
    # collect/localCheckpoint at CONSTRUCTION time — the bench clock
    # must start before fn, like dd6/dd8/dd10/dd11 themselves
    eager=True,
)
def cm1_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per document: (doc_id, split, action, cluster_id,
    quality_score) under the hold_out > contaminated > duplicate >
    quality > keep cascade documented in the module docstring — with
    the hold_out split hashed over dd11's CLUSTER id since r11 and the
    dc2 sweep running against that same split (module docstring;
    VERDICT r10 #1). Composes
    the same dd11/txt8/dc2 plan builders the registered queries run
    (dd11/dc2 via their parameterized forms so the digest + shingle
    intermediates are derived once — module docstring scale note; the
    oracle nests dd11's and txt8's registered SQL verbatim, and dc2's
    via the SAME sql_fuzzy_decontaminate builder that defines dc2's
    registered oracle, instantiated at the cluster split) — the
    driver's verdict on cm1 is therefore a verdict on the COMPOSITION
    of three families it also checks individually. Since r6 the dedup input is dd11's
    STAGED keep-list (digest-dedup first, then banded LSH candidates +
    candidate-restricted verify over text-distinct docs — result-
    identical to dd10, linear in duplicate multiplicity), so the
    checked end-product plan contains no quadratic stage anywhere and
    survives dup-dense corpora; dd8's exact composition remains the
    yardstick but is no longer on cm1's path.

    Dedup semantics inherited from dd11 (see its docstring): exact
    twins merge REGARDLESS of length — shingle-less duplicates
    (< 3 words, or NULL text) that dd10's LSH would leave as
    singletons are 'drop_duplicate' here, and a NULL-text doc still
    gets a manifest row (its digest is coalesced to '<null>', so the
    inner join on dd11 cannot drop it)."""
    from ..operators import dedup as dd

    docs = load_table(spark, sf_dir, "documents")
    # SHARED intermediates (VERDICT r6 "Next round" #3): ONE digest
    # pass and ONE shingle explode feed both the dd11 and dc2
    # subtrees. The shingle/signature work runs over digest-DISTINCT
    # texts only; dc2's per-doc band table is recovered by re-keying
    # the canon bands through the digest map (identical text →
    # identical MinHash signature, so this is an equality, not an
    # approximation — the registered dc2 oracle is unchanged). The
    # pins are the toy-scale stand-in for a checkpointed table.
    from ..operators.skew import salted_join

    tagged = dd.pin_bounded(star_pipeline.digest_tagged(docs), eager=True)
    canon = tagged.filter(F.col("is_canon")).select("doc_id", "text")
    sh_canon = dd.pin_bounded(
        dd.exploded_shingles(canon, "doc_id", "text"), eager=True
    )
    # ONE 16-min signature pass feeds BOTH subtrees (r9): hash index i
    # is keyed independently, so sig16's m0..m7 ARE the 8-hash
    # signature — dd11's tuned (16,4) dedup bands and dc2's
    # recall-first (8,4) decontamination bands derive from this one
    # pinned table instead of two groupBy passes over sh_canon.
    sig16 = dd.pin_bounded(dd.minhash_signature_table(sh_canon, 16), eager=True)
    d = star_pipeline.staged_keep_list_plan(
        spark, docs, tagged=tagged, sh_canon=sh_canon, sig_canon=sig16
    ).select("doc_id", "cluster_id", "kept")
    # CLUSTER-grain split (r11, VERDICT r10 #1): hash dd11's cluster_id
    # so near-dup members never straddle train/hold_out (sp4's
    # guarantee on the corpus the pipeline releases). Pinned because it
    # fans out to the final manifest join AND dc2's split side.
    base = dd.pin_bounded(hash_split(d, key="cluster_id"), eager=True)
    # tagged carries canon_id directly (r8 skew-safe digest stage), so
    # the band re-key is ONE canon-grain join — salted, because a
    # mega-cluster's docs all meet the same canon_id's bands.
    bands_all = salted_join(
        tagged.select("doc_id", "canon_id"),
        dd.bands_from_signatures(sig16, 8, 4)
        .withColumnRenamed("doc", "canon_id"),
        on="canon_id",
        salt_by=["doc_id"],
    ).select(F.col("doc_id").alias("doc"), "band", "bucket")
    t = QUERIES["txt8_filter_verdict"].fn(spark, sf_dir).select(
        "doc_id", "keep", "quality_score"
    )
    c = (
        star_sampling.fuzzy_decontaminate_plan(
            spark,
            docs,
            eager_pins=True,
            bands=bands_all,
            # the sweep runs against the SAME cluster-grain split the
            # manifest curates on (sql_fuzzy_decontaminate twin)
            split=base.select(F.col("doc_id").alias("doc"), "split"),
        )
        .select("doc_id")
        .withColumn("_contaminated", F.lit(True))
    )
    # txt8 has no row for token-less documents (its token explode emits
    # nothing) — a LEFT join + null-as-not-keep keeps the per-document
    # contract: such docs get 'drop_quality' with a null quality_score,
    # never a missing manifest row. dd11 covers every document by
    # construction (documents LEFT JOIN reach), so base — the split
    # over its keep-list — already has one row per doc.
    action = (
        F.when(F.col("split") != "train", "hold_out")
        .when(F.col("_contaminated").isNotNull(), "drop_contaminated")
        .when(~F.col("kept"), "drop_duplicate")
        .when(~F.coalesce(F.col("keep"), F.lit(False)), "drop_quality")
        .otherwise("keep")
    )
    return (
        base.join(t, "doc_id", "left")
        .join(c, "doc_id", "left")
        .select(
            "doc_id",
            "split",
            action.alias("action"),
            "cluster_id",
            "quality_score",
        )
    )


# ---------------------------------------------------------------------------
# CP1 — the packed, shuffled, mixed TRAINING CORPUS derived from the
# manifest's keep set: the pipeline's actual deliverable.
# ---------------------------------------------------------------------------


def _layout_chain(kept: DataFrame, release: str | None = None) -> DataFrame:
    """The shared mixture → shuffle → packing layout over a curated
    keep set (doc, source, n_tokens) — ONE definition for cp1 (the
    full release) and cp3 (the delta release), mirroring how the SQL
    side already shares sql_temperature_mix / sql_shuffle_positions /
    sql_pack_chop (review finding: a seq_len/seed/policy edit must not
    need two sites — missing one would silently break the merged
    release's dp2 invariant). ``release`` prepends a constant
    namespace column.

    Pin discipline (measured on cp1, 20.2s → ~14s at sf0.1): adm fans
    out to the shuffle input and the ordered join, and ordered fans
    out to the packing input and the final join — without the pins the
    whole upstream curation subtree re-executes per consumer. The
    pinned tables are admitted-doc-grain metadata-width rows; at
    100 TB this is the checkpointed curated-corpus table every
    downstream layout pass reads anyway."""
    mix = sampling.temperature_mix(
        kept, key="doc", stratum="source", tokens_col="n_tokens",
        beta_num=1, beta_den=2, salt="mix",
    )
    adm = dd.pin_bounded(
        mix.filter(F.col("kept")).select("doc", "source", "n_tokens"),
        eager=True,
    )
    shuf = pk.shuffle_positions(
        adm.select("doc"), id_col="doc", seed=42, shard_size=1000
    )
    ordered = dd.pin_bounded(adm.join(shuf, "doc"), eager=True)
    packed = pk.pack_offsets(
        ordered.select("pos", "n_tokens"),
        id_col="pos", tokens_col="n_tokens", seq_len=2048, bucket_width=256,
    )
    out = ordered.join(
        packed.select("pos", "start_off", "first_seq", "last_seq", "n_seqs"),
        "pos",
    )
    cols = [
        "doc", "source", "n_tokens", "pos", "shard",
        "start_off", "first_seq", "last_seq", "n_seqs",
    ]
    if release is not None:
        return out.select(F.lit(release).alias("release"), *cols)
    return out.select(*cols)

_CP1_SQL = f"""
    WITH cm AS ({{cm1}}),
    kept AS (
        SELECT d.doc_id, d.source, d.text
        FROM documents d JOIN cm ON d.doc_id = cm.doc_id
        WHERE cm.action = 'keep'
    ),
    mix AS ({{mix}}),
    adm AS MATERIALIZED (SELECT doc, source, n_tokens FROM mix WHERE kept),
    shuf AS ({{shuf}}),
    cj AS (
        SELECT s.doc, a.source, a.n_tokens, s.pos, s.shard
        FROM shuf s JOIN adm a ON s.doc = a.doc
    )
    {{pack}}
"""


@query(
    "cp1_curated_corpus",
    _CP1_SQL.format(
        # cm1's registered oracle verbatim (it is registered earlier in
        # THIS module, so the lookup is import-order-safe); the layout
        # stages via the same rel-parameterized builders that define
        # the registered mx1/ds1/dp1 oracles.
        cm1=QUERIES["cm1_corpus_manifest"].oracle,
        mix=star_pipeline.sql_temperature_mix("kept"),
        shuf=star_pipeline.sql_shuffle_positions("adm", "doc"),
        pack=star_pipeline.sql_pack_chop(
            "cj", "pos", "doc, source, n_tokens, pos, shard"
        ),
    ),
    eager=True,  # composes cm1 (CC collects at construction)
)
def cp1_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE end product: one row per training document of the curated,
    mixed, shuffled, packed corpus — what a pretraining run actually
    reads. Chains the four verified end products as ONE hash-checked
    composition (VERDICT r7 "Next round" #1):

        1. cm1's manifest → the keep set (curation: split/contamination/
           dedup/quality cascade);
        2. mx1's temperature mixture (α=0.5 integer token budgets per
           source) admits kept docs lowest-hash-first until each
           source's budget fills;
        3. ds1's deterministic shuffle (salted-md5 order, seed 42)
           assigns every admitted doc its training position + shard;
        4. dp1's concat-and-chop packing (L=2048) lays the token stream
           out in THAT shuffle order — start_off/first_seq/last_seq/
           n_seqs are offsets into the actual training stream, not
           doc_id order.

    Output: (doc, source, n_tokens, pos, shard, start_off, first_seq,
    last_seq, n_seqs), one row per admitted doc. The oracle nests the
    same registered SQL the driver checks individually (cm1 verbatim;
    mx1/ds1/dp1 via their shared rel-parameterized builders
    sql_temperature_mix / sql_shuffle_positions / sql_pack_chop).

    Scale shape — one exchange per grain, no new hot sites: the keep
    join and the admit filter are doc_id-grain metadata joins; the mix
    and both layout passes reuse the 16^3-bucket two-level prefix-sum
    decompositions (no data-sized SinglePartition window anywhere —
    operators/packing.py, operators/sampling.temperature_mix); the
    final joins are pos-grain (unique key, skew-free by construction
    since pos is a dense permutation)."""
    docs = load_table(spark, sf_dir, "documents")
    keep_ids = (
        QUERIES["cm1_corpus_manifest"]
        .fn(spark, sf_dir)
        .filter(F.col("action") == "keep")
        .select("doc_id")
    )
    kept = docs.join(keep_ids, "doc_id").select(
        F.col("doc_id").alias("doc"),
        "source",
        F.size(tx.normalized_words(F.col("text"))).alias("n_tokens"),
    )
    return _layout_chain(kept)


@query(
    "cp2_corpus_datacard",
    """
    WITH cp AS ({cp1})
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_seqs) AS BIGINT) AS n_seq_slots,
           CAST(COUNT(DISTINCT shard) AS BIGINT) AS n_shards,
           MIN(pos) AS first_pos,
           MAX(pos) AS last_pos
    FROM cp GROUP BY source
    """.format(cp1=QUERIES["cp1_curated_corpus"].oracle),
    eager=True,  # composes cp1 (cm1's CC collects at construction)
)
def cp2_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DATA CARD of the curated corpus: one row per source with
    what the training run actually gets after the full curation +
    mixture + layout chain — admitted docs, token counts, sequence
    slots spanned, shards touched, and the position range — the
    per-source accounting a dataset release publishes and an ablation
    compares across mixture temperatures. All-integer, hash-exact; the
    oracle nests cp1's registered SQL verbatim, so the driver's
    verdict covers curation → mixture → shuffle → packing → rollup as
    one chain (the longest composed oracle in the catalog: cm1's
    dd11/dc2/txt8 subtrees are inside it).

    Scale shape: one map-side-combined groupBy over cp1's
    admitted-doc-grain output — source cardinality output, metadata
    cost on top of cp1's own plan."""
    cp = QUERIES["cp1_curated_corpus"].fn(spark, sf_dir)
    return cp.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("n_seqs").cast("bigint").alias("n_seq_slots"),
        F.count_distinct("shard").cast("bigint").alias("n_shards"),
        F.min("pos").alias("first_pos"),
        F.max("pos").alias("last_pos"),
    )


# ---------------------------------------------------------------------------
# CM2 — incremental admission: curate an ARRIVING batch against the
# existing corpus's persisted stores, without re-clustering the corpus.
# ---------------------------------------------------------------------------

_CM2_ARRIVE_FRAC = 0.25
_CM2_SALT = "cm2"


def _cm2_sql() -> str:
    from ..operators.dedup import sql_portable_minhash_bands
    from ..operators.sampling import hex_threshold, sql_hash_bucket

    thr = hex_threshold(_CM2_ARRIVE_FRAC)
    tag = f"{sql_hash_bucket('doc_id', _CM2_SALT)} < '{thr}'"
    return f"""
    WITH {sql_portable_minhash_bands("documents", "doc_id", "text", 16, 4)},
    arrive AS (
        SELECT doc_id, text FROM documents WHERE {tag}
    ),
    ad AS (
        SELECT doc_id, COALESCE(md5(text), '<null>') AS dg FROM arrive
    ),
    ed AS (
        SELECT DISTINCT COALESCE(md5(text), '<null>') AS dg
        FROM documents WHERE NOT ({tag})
    ),
    exact_rej AS (
        SELECT a.doc_id FROM ad a
        WHERE EXISTS (SELECT 1 FROM ed e WHERE e.dg = a.dg)
           OR EXISTS (SELECT 1 FROM ad a2
                      WHERE a2.dg = a.dg AND a2.doc_id < a.doc_id)
    ),
    eb AS (
        SELECT DISTINCT b.band, b.bucket
        FROM bands b JOIN documents d ON b.doc = d.doc_id
        WHERE NOT ({sql_hash_bucket('d.doc_id', _CM2_SALT)} < '{thr}')
    ),
    ab AS (
        SELECT b.doc, b.band, b.bucket
        FROM bands b JOIN arrive a ON b.doc = a.doc_id
    ),
    near_rej AS (
        SELECT DISTINCT doc FROM ab a
        WHERE EXISTS (SELECT 1 FROM eb e
                      WHERE e.band = a.band AND e.bucket = a.bucket)
           OR EXISTS (SELECT 1 FROM ab a2
                      WHERE a2.band = a.band AND a2.bucket = a.bucket
                        AND a2.doc < a.doc)
    ),
    t8 AS ({{txt8}})
    SELECT a.doc_id,
           CASE WHEN x.doc_id IS NOT NULL THEN 'drop_exact'
                WHEN n.doc IS NOT NULL THEN 'drop_near'
                WHEN NOT COALESCE(t.keep, FALSE) THEN 'drop_quality'
                ELSE 'admit' END AS action,
           t.quality_score
    FROM arrive a
    LEFT JOIN exact_rej x ON a.doc_id = x.doc_id
    LEFT JOIN near_rej n ON a.doc_id = n.doc
    LEFT JOIN t8 t ON a.doc_id = t.doc_id
    """


@query(
    "cm2_incremental_admission",
    _cm2_sql().format(txt8=QUERIES["txt8_filter_verdict"].oracle),
    # NON-eager again since optimization r16 (VERDICT r15 "Next round"
    # #1): standalone cm2 is fastest with LAZY pins (A/B minima 1.23s
    # lazy vs 2.37s eager at sf0.1 — the eager materialization of the
    # text-carrying tagged store costs more than the reuse it buys on
    # the standalone path), so nothing runs at construction and the
    # r14 clock placement is restored. The eager shape survives as
    # eager_pins=True for the cp3/cp7 compositions (both eager-
    # registered), where the SAME A/B showed eager winning (cp3 4.15s
    # vs 5.92s — the composition consumes the stores repeatedly).
)
def cm2_incremental_admission(
    spark: SparkSession, sf_dir: str, eager_pins: bool = False
) -> DataFrame:
    """INCREMENTAL curation: admit an arriving batch of documents
    against the existing corpus's persisted dedup stores — the daily
    maintenance shape of cm1. A 100 TB corpus is not re-curated when a
    day's crawl lands; the pipeline keeps two stores from the last full
    run — the DIGEST store (distinct md5(text), dd11's exact stage)
    and the BAND store (distinct MinHash (band, bucket), the LSH
    stage) — probes each arriving doc against them, and appends the
    admitted docs' entries. Cost per batch ∝ |batch| × store-probe,
    never |corpus|²; the stores retain REJECTED docs' entries too, so
    a third copy of a rejected duplicate cannot resurrect.

    Cascade per arriving doc (first match wins, mirroring cm1):
        1. digest ∈ existing store, or an earlier (lower doc_id)
           arriving doc  -> 'drop_exact'
        2. any MinHash band ∈ existing store or owned by an earlier
           arriving doc  -> 'drop_near'   (st12's greedy band-grain
           admission semantics — order-insensitive, hash-checkable;
           diverges from CC closure only on bridge chains, documented
           on streaming/events.streaming_minhash_admission)
        3. txt8's filter verdict false (or no tokens) -> 'drop_quality'
        4. otherwise -> 'admit'

    The arriving batch is the deterministic {frac:.0%} salted-md5 slice
    of the documents table (operators/sampling.hash_bucket, salt
    '{salt}') — in production it is the day's partition, here a
    hash-slice so the oracle sees the identical partition. Both stores
    are derived in-plan from the existing slice (at scale they are the
    persisted tables the last full run checkpointed).

    Scale shape: digest stage is one map-side-combined groupBy(dg) min
    + two salted dg-grain attach joins; band stage is one shared band
    build over the corpus, a distinct on the existing side, one
    map-side-combined groupBy(band, bucket) min and two salted
    band-grain attach joins (the salts keep a mega-duplicate arriving
    batch — every doc sharing one digest/bucket — off a single task,
    dd11's r8 discipline); quality is txt8's doc-LOCAL verdict run
    over the arriving slice only (filter_verdict_plan — batch-
    proportional, never corpus-proportional). No window functions, no
    quadratic stage.
    """
    from ..operators.skew import salted_join

    docs = load_table(spark, sf_dir, "documents")
    arriving = sampling.hash_bucket(
        F.col("doc_id"), _CM2_SALT
    ) < sampling.hex_threshold(_CM2_ARRIVE_FRAC)
    tagged = dd.pin_bounded(
        docs.select("doc_id", "text", arriving.alias("arriving")),
        eager=eager_pins,
    )
    arrive = tagged.filter(F.col("arriving"))
    dg = F.coalesce(F.md5(F.col("text")), F.lit("<null>"))
    ad = arrive.select("doc_id", dg.alias("dg"))
    ed = (
        tagged.filter(~F.col("arriving"))
        .select(dg.alias("dg"))
        .distinct()
        .withColumn("in_exist", F.lit(True))
    )
    adf = ad.groupBy("dg").agg(F.min("doc_id").alias("dg_first"))
    exact = (
        salted_join(
            salted_join(ad, ed, on="dg", salt_by=["doc_id"], how="left"),
            adf, on="dg", salt_by=["doc_id"],
        )
        .select(
            "doc_id",
            (
                F.col("in_exist").isNotNull()
                | (F.col("dg_first") < F.col("doc_id"))
            ).alias("exact_rej"),
        )
    )
    # (16,4) EXPLICITLY — the band store cm2 maintains must be the SAME
    # banding the batch keep-list (dd11, r9-tuned) runs, or incremental
    # admission diverges from the full run beyond the documented
    # band-grain-vs-CC gap. r=4's "collision ⇒ likely ≥0.5 jaccard" is
    # also the right shape for an UNVERIFIED admission gate: r=2's
    # sub-threshold collisions would false-drop unique arriving docs.
    bands = dd.portable_minhash_bands(
        tagged, "doc_id", "text", num_hashes=16, bands=4
    )
    bt = dd.pin_bounded(
        bands.join(
            tagged.select(F.col("doc_id").alias("doc"), "arriving"), "doc"
        ),
        eager=eager_pins,
    )
    eb = (
        bt.filter(~F.col("arriving"))
        .select("band", "bucket")
        .distinct()
        .withColumn("in_store", F.lit(True))
    )
    ab = bt.filter(F.col("arriving")).select("doc", "band", "bucket")
    abf = ab.groupBy("band", "bucket").agg(F.min("doc").alias("band_first"))
    near = (
        salted_join(
            salted_join(
                ab, eb, on=["band", "bucket"], salt_by=["doc"], how="left"
            ),
            abf, on=["band", "bucket"], salt_by=["doc"],
        )
        .groupBy("doc")
        .agg(
            F.bool_or(
                F.col("in_store").isNotNull()
                | (F.col("band_first") < F.col("doc"))
            ).alias("near_rej")
        )
        .withColumnRenamed("doc", "doc_id")
    )
    # quality is doc-local (star_pipeline.filter_verdict_plan), so only
    # the arriving slice is scored — row-identical to filtering the
    # full-corpus txt8 output, at batch-proportional cost (review
    # finding: the full pass did 4x the needed work per daily batch)
    t8 = star_pipeline.filter_verdict_plan(arrive).select(
        "doc_id", "keep", "quality_score"
    )
    action = (
        F.when(F.col("exact_rej"), "drop_exact")
        .when(F.coalesce(F.col("near_rej"), F.lit(False)), "drop_near")
        .when(~F.coalesce(F.col("keep"), F.lit(False)), "drop_quality")
        .otherwise("admit")
    )
    return (
        arrive.select("doc_id")
        .join(exact, "doc_id")
        .join(near, "doc_id", "left")
        .join(t8, "doc_id", "left")
        .select("doc_id", action.alias("action"), "quality_score")
    )


cm2_incremental_admission.__doc__ = cm2_incremental_admission.__doc__.format(
    frac=_CM2_ARRIVE_FRAC, salt=_CM2_SALT
)


# ---------------------------------------------------------------------------
# CP3 — the INCREMENTAL RELEASE: cm2's admitted batch run through the
# same mixture/shuffle/packing chain cp1 runs on the full corpus,
# packed into the release's own delta shard namespace (append-only).
# ---------------------------------------------------------------------------

_CP3_SQL = """
    WITH cm2 AS ({cm2}),
    kept AS (
        SELECT d.doc_id, d.source, d.text
        FROM documents d JOIN cm2 ON d.doc_id = cm2.doc_id
        WHERE cm2.action = 'admit'
    ),
    mix AS ({mix}),
    adm AS MATERIALIZED (SELECT doc, source, n_tokens FROM mix WHERE kept),
    shuf AS ({shuf}),
    cj AS (
        SELECT s.doc, a.source, a.n_tokens, s.pos, s.shard
        FROM shuf s JOIN adm a ON s.doc = a.doc
    ),
    p AS (
        {pack}
    )
    SELECT 'delta' AS release, * FROM p
"""


@query(
    "cp3_incremental_release",
    _CP3_SQL.format(
        # cm2's registered oracle verbatim (registered above in THIS
        # module); the layout stages via the same rel-parameterized
        # builders that define the registered mx1/ds1/dp1 oracles and
        # cp1's nesting.
        cm2=QUERIES["cm2_incremental_admission"].oracle,
        mix=star_pipeline.sql_temperature_mix("kept"),
        shuf=star_pipeline.sql_shuffle_positions("adm", "doc"),
        pack=star_pipeline.sql_pack_chop(
            "cj", "pos", "doc, source, n_tokens, pos, shard"
        ),
    ),
    eager=True,  # composes cm2 (pins at construction)
)
def cp3_incremental_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DAILY RELEASE operator (VERDICT r8 "Next round" #5): cm2
    admits a batch against the persisted stores; this packs that
    admitted batch into the corpus release as APPEND-ONLY DELTA
    shards — the operator a 100 TB pipeline actually runs per batch,
    because re-shuffling and re-packing the full corpus daily is
    exactly the cost incremental admission exists to avoid. The merged
    release is cp1's shards ⊎ these delta shards, keyed by the
    ``release`` column ('full' being cp1's implicit namespace); dp2's
    packing invariant (every non-final sequence exactly 2048 tokens)
    holds per release-namespace by construction and is asserted on the
    MERGED manifest in tests/test_curated_corpus.py.

    Chain (cp1's shape, cm2's keep set): cm2 'admit' docs → mx1's
    temperature mixture applied to the batch (the increment honors the
    same α=0.5 source policy; per-batch budgets are the documented
    choice — a global-budget variant would thread the full-corpus
    token totals in as parameters) → ds1's deterministic shuffle over
    the batch → dp1's concat-and-chop packing in that order. Output:
    (release, doc, source, n_tokens, pos, shard, start_off,
    first_seq, last_seq, n_seqs), one row per packed batch doc —
    all-integer + constant string → hash-exact. Oracle nests cm2's
    registered SQL verbatim + the shared rel-parameterized builders.

    Scale shape: identical to cp1's layout stages (two-level
    prefix-sum shuffle + packing, no data-sized SinglePartition
    window), but over the BATCH grain — the daily cost is
    batch-proportional end-to-end, the whole point."""
    docs = load_table(spark, sf_dir, "documents")
    adm_ids = (
        QUERIES["cm2_incremental_admission"]
        .fn(spark, sf_dir, eager_pins=True)
        .filter(F.col("action") == "admit")
        .select("doc_id")
    )
    kept = docs.join(adm_ids, "doc_id").select(
        F.col("doc_id").alias("doc"),
        "source",
        F.size(tx.normalized_words(F.col("text"))).alias("n_tokens"),
    )
    return _layout_chain(kept, release="delta")


# ---------------------------------------------------------------------------
# CP4 — the RELEASE DIFF: per-source data-card accounting before vs
# after the daily batch (cp2's card + cp3's delta), the artifact a
# release pipeline publishes with every increment.
# ---------------------------------------------------------------------------


@query(
    "cp4_datacard_diff",
    # before/delta are AS MATERIALIZED (VERDICT r13 #2, the dq5
    # precedent applied proactively): each is referenced once HERE, so
    # unlike dq5 there is no multi-reference re-evaluation to
    # eliminate — materializing at the artifact boundary pins one
    # evaluation per chain however DuckDB's inlining heuristic treats
    # the nested bodies, as insurance against the >600s inlined regime
    # dq5 measured. Cost measured NEUTRAL tri-scale (sf0.01 31.4s
    # plain vs 32.5s mat; sf0.1 71.8 vs 72.8 — within box noise),
    # results identical tri-scale (SCALE_r14 §3).
    """
    WITH before AS MATERIALIZED ({cp2}),
    delta AS MATERIALIZED ({cp3}),
    dcard AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS d_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS d_tokens,
               CAST(SUM(n_seqs) AS BIGINT) AS d_seq_slots
        FROM delta GROUP BY source
    )
    SELECT COALESCE(b.source, d.source) AS source,
           CAST(COALESCE(b.n_docs, 0) AS BIGINT) AS docs_before,
           CAST(COALESCE(d.d_docs, 0) AS BIGINT) AS docs_added,
           CAST(COALESCE(b.n_docs, 0) + COALESCE(d.d_docs, 0) AS BIGINT)
               AS docs_after,
           CAST(COALESCE(b.n_tokens, 0) AS BIGINT) AS tokens_before,
           CAST(COALESCE(d.d_tokens, 0) AS BIGINT) AS tokens_added,
           CAST(COALESCE(b.n_tokens, 0) + COALESCE(d.d_tokens, 0) AS BIGINT)
               AS tokens_after,
           CAST(COALESCE(b.n_seq_slots, 0) AS BIGINT) AS seq_slots_before,
           CAST(COALESCE(d.d_seq_slots, 0) AS BIGINT) AS seq_slots_added
    FROM before b FULL OUTER JOIN dcard d ON b.source = d.source
    """.format(
        cp2=QUERIES["cp2_corpus_datacard"].oracle,
        cp3=QUERIES["cp3_incremental_release"].oracle,
    ),
    eager=True,  # composes cp1 + cm2 chains (collects at construction)
)
def cp4_datacard_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RELEASE DIFF (the second half of VERDICT r8 #5): one row
    per source with the data card BEFORE the daily batch (cp2's
    rollup of cp1's full release) and what the batch ADDED (cp3's
    delta shards rolled up the same way) — docs, tokens, and sequence
    slots, before/added/after. This is the artifact an incremental
    release publishes and a downstream consumer audits ("today's
    release grew src3 by 2 docs / 312 tokens"); a source present in
    only one side still gets a row (FULL OUTER on source), so a batch
    introducing a brand-new source is visible rather than silently
    merged.

    All-integer → hash-exact. Oracle nests cp2's and cp3's registered
    SQL verbatim, so the driver's verdict covers BOTH release chains
    and the diff arithmetic as one statement — the widest composition
    in the catalog (cm1's three subtrees + cm2's stores + two
    mixture/shuffle/packing chains are all inside it). Like cp2, this
    is deliberately NOT a bench line (it would re-run both chains for
    a rollup; the composition is priced once via cp1/cp3).

    Scale shape: two source-cardinality rollups + one
    source-cardinality join on top of chains that are themselves
    batch- or corpus-proportional; the diff adds metadata cost only."""
    before = QUERIES["cp2_corpus_datacard"].fn(spark, sf_dir)
    delta = (
        QUERIES["cp3_incremental_release"]
        .fn(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("d_docs"),
            F.sum("n_tokens").cast("bigint").alias("d_tokens"),
            F.sum("n_seqs").cast("bigint").alias("d_seq_slots"),
        )
    )
    b, d = before.alias("b"), delta.alias("d")
    z = F.lit(0).cast("bigint")
    bd = F.coalesce(F.col("b.n_docs"), z)
    dd_ = F.coalesce(F.col("d.d_docs"), z)
    bt = F.coalesce(F.col("b.n_tokens"), z)
    dt = F.coalesce(F.col("d.d_tokens"), z)
    return (
        b.join(d, F.col("b.source") == F.col("d.source"), "full_outer")
        .select(
            F.coalesce(F.col("b.source"), F.col("d.source")).alias("source"),
            bd.alias("docs_before"),
            dd_.alias("docs_added"),
            (bd + dd_).alias("docs_after"),
            bt.alias("tokens_before"),
            dt.alias("tokens_added"),
            (bt + dt).alias("tokens_after"),
            F.coalesce(F.col("b.n_seq_slots"), z).alias("seq_slots_before"),
            F.coalesce(F.col("d.d_seq_slots"), z).alias("seq_slots_added"),
        )
    )


# ---------------------------------------------------------------------------
# CP5 — the SCRUBBED RELEASE STORE: the text artifact a release
# actually ships, after curation AND redaction.
# ---------------------------------------------------------------------------


@query(
    "cp5_scrubbed_release",
    f"""
    WITH cm AS ({QUERIES["cm1_corpus_manifest"].oracle}),
    sc AS ({QUERIES["txt14_pii_scrub"].oracle})
    SELECT cm.doc_id,
           sc.n_emails, sc.n_phones, sc.n_handles,
           CAST(sc.n_emails + sc.n_phones + sc.n_handles AS BIGINT)
               AS n_redactions,
           sc.scrubbed_md5
    FROM cm JOIN sc ON cm.doc_id = sc.doc
    WHERE cm.action = 'keep'
    """,
    eager=True,  # composes cm1 (CC collects at construction)
)
def cp5_scrubbed_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scrub stage IN the release chain (VERDICT r10 #4's second
    half: "a real release pipeline also *redacts* corpus-wide"): one
    row per RELEASED document — cm1's keep set joined with txt14's
    redaction pass — carrying the per-class redaction counts, their
    total, and the md5 of the scrubbed text the release actually
    ships. cp1 lays the corpus out (positions/shards/offsets); cp5 is
    the text store those offsets point into, post-redaction. Composes
    the two registered entries verbatim on both engines, so the
    driver's verdict covers curation -> scrub as one chain.

    Scale shape: txt14 is a zero-shuffle projection and cm1's keep set
    is the checkpointed manifest at 100 TB — the join is one
    doc_id-grain equi-join of unique-keyed sides; nothing here adds a
    shuffle class beyond cm1's own. NOT a bench line (cp4 precedent:
    re-runs cm1's chain, already priced; txt14 priced on its own
    line). The synthetic corpus carries no PII (txt14's disclosed
    vacuity), so at gate scale every n_redactions is 0 and the md5s
    equal the originals' — the fixture in tests/test_textops.py is
    where redaction semantics are pinned; THIS entry's verdict is
    about the composition (keep-set restriction + per-doc join
    carrying the scrub columns)."""
    keep = (
        QUERIES["cm1_corpus_manifest"]
        .fn(spark, sf_dir)
        .filter(F.col("action") == "keep")
        .select("doc_id")
    )
    scrub = QUERIES["txt14_pii_scrub"].fn(spark, sf_dir)
    return keep.join(
        scrub.withColumnRenamed("doc", "doc_id"), "doc_id"
    ).select(
        "doc_id",
        "n_emails",
        "n_phones",
        "n_handles",
        (F.col("n_emails") + F.col("n_phones") + F.col("n_handles"))
        .cast("bigint")
        .alias("n_redactions"),
        "scrubbed_md5",
    )


# ---------------------------------------------------------------------------
# CP6 — per-shard RELEASE INTEGRITY: the checksum table a consumer
# verifies a shipped shard against.
# ---------------------------------------------------------------------------



def _md5_prefix_checksum() -> Column:
    """The ONE Spark expression for the order-insensitive 48-bit
    md5-prefix checksum term cp6 / cp8 / cp9 all sum — the merged
    verification table only works if every namespace computes the
    same term, so the width/base live here (review finding: three
    inline copies; the SQL twins necessarily restate it as text, and
    the per-entry hash gate catches any twin drift)."""
    return F.conv(F.substring("scrubbed_md5", 1, 12), 16, 10).cast("bigint")


@query(
    "cp6_shard_integrity",
    f"""
    WITH cp AS ({QUERIES["cp1_curated_corpus"].oracle}),
    sc AS ({QUERIES["txt14_pii_scrub"].oracle})
    SELECT cp.shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(cp.n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(sc.n_emails + sc.n_phones + sc.n_handles) AS BIGINT)
               AS n_redactions,
           CAST(SUM(CAST('0x' || substring(sc.scrubbed_md5, 1, 12)
               AS BIGINT)) AS BIGINT) AS shard_checksum
    FROM cp JOIN sc ON cp.doc = sc.doc
    GROUP BY cp.shard
    """,
    eager=True,  # composes cp1 (cm1's CC collects at construction)
)
def cp6_shard_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard RELEASE INTEGRITY (HANDOFF r12 idea, built same
    round): one row per cp1 training shard with what a consumer needs
    to verify the shard it downloaded — doc count, token count, total
    redactions, and an order-INSENSITIVE content checksum
    (BIGINT sum of each member's scrubbed-text md5 48-bit prefix:
    commutative, so any partitioning/replication order of the shard's
    files verifies to the same value; 2^48 × shard_size=1000 stays
    ~2^58, far under BIGINT overflow — ANSI mode would throw, not
    wrap, if that sizing were ever violated). The scrub columns come
    from txt14 so the checksum covers the text the release SHIPS
    (post-redaction), not the raw crawl.

    Oracle nests cp1's and txt14's registered SQL verbatim — the
    driver's verdict covers curation → mixture → shuffle → packing →
    scrub → per-shard rollup as one chain. Scale shape: cp1's rows are
    admitted-doc-grain metadata; the join to txt14 is a unique-keyed
    doc-grain equi-join and the rollup is one map-side-combined
    groupBy(shard) with |shards| output rows. NOT a bench line (cp4
    precedent: re-runs cp1's chain, already priced; txt14 priced on
    its own line)."""
    cp = (
        QUERIES["cp1_curated_corpus"]
        .fn(spark, sf_dir)
        .select("doc", "shard", "n_tokens")
    )
    sc = QUERIES["txt14_pii_scrub"].fn(spark, sf_dir)
    chk = _md5_prefix_checksum()
    return (
        cp.join(sc, "doc")
        .groupBy("shard")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum(
                F.col("n_emails") + F.col("n_phones") + F.col("n_handles")
            )
            .cast("bigint")
            .alias("n_redactions"),
            F.sum(chk).cast("bigint").alias("shard_checksum"),
        )
    )


# ---------------------------------------------------------------------------
# CP7/CP8 — the DAILY path gets the same scrub + integrity stages the
# full release gained in r11: cp7 is cp5's twin over cm2's admitted
# batch (the scrubbed text store the delta shards point into), cp8 is
# cp6's twin over cp3's delta shards (release-keyed, so the merged
# verification table is cp6's rows under the implicit 'full' namespace
# ∪ cp8's 'delta' rows — exactly how cp3's docstring defines the
# merged release itself).
# ---------------------------------------------------------------------------


@query(
    "cp7_scrubbed_delta_store",
    f"""
    WITH cm2 AS ({QUERIES["cm2_incremental_admission"].oracle}),
    sc AS ({QUERIES["txt14_pii_scrub"].oracle})
    SELECT cm2.doc_id,
           sc.n_emails, sc.n_phones, sc.n_handles,
           CAST(sc.n_emails + sc.n_phones + sc.n_handles AS BIGINT)
               AS n_redactions,
           sc.scrubbed_md5
    FROM cm2 JOIN sc ON cm2.doc_id = sc.doc
    WHERE cm2.action = 'admit'
    """,
    eager=True,  # composes cm2 (pins at construction)
)
def cp7_scrubbed_delta_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scrub stage IN the daily path (VERDICT r11 #1 — r11 gave
    cp1's full release a scrubbed store, cp5, but cp3's delta shards
    still shipped raw text): one row per ADMITTED batch document —
    cm2's admit set joined with txt14's redaction pass — carrying the
    per-class redaction counts, their total, and the md5 of the
    scrubbed text the delta shards actually ship. cp3 lays the batch
    out (positions/delta shards); cp7 is the text store those offsets
    point into, post-redaction — cp5's exact shape at the batch grain,
    so the released corpus is scrubbed END-TO-END: full store = cp5,
    daily increments = cp7.

    Oracle nests cm2's and txt14's registered SQL verbatim, so the
    driver's verdict covers incremental admission → scrub as one
    chain. Scale shape: txt14 is a zero-shuffle projection and cm2's
    admit set is batch-grain — the join is one unique-keyed
    doc_id-grain equi-join, batch-proportional end-to-end (the whole
    point of the daily path). NOT a bench line (cp4 precedent:
    re-runs cm2's chain, already priced inside cp3's line; txt14
    priced on its own line). The synthetic corpus carries no PII
    (txt14's disclosed vacuity), so at gate scale every n_redactions
    is 0 — redaction semantics are pinned on txt14's three-engine
    fixture; THIS verdict covers the composition (admit-set
    restriction + per-doc join carrying the scrub columns)."""
    adm = (
        QUERIES["cm2_incremental_admission"]
        .fn(spark, sf_dir, eager_pins=True)
        .filter(F.col("action") == "admit")
        .select("doc_id")
    )
    scrub = QUERIES["txt14_pii_scrub"].fn(spark, sf_dir)
    return adm.join(
        scrub.withColumnRenamed("doc", "doc_id"), "doc_id"
    ).select(
        "doc_id",
        "n_emails",
        "n_phones",
        "n_handles",
        (F.col("n_emails") + F.col("n_phones") + F.col("n_handles"))
        .cast("bigint")
        .alias("n_redactions"),
        "scrubbed_md5",
    )


@query(
    "cp8_delta_shard_integrity",
    f"""
    WITH cp AS ({QUERIES["cp3_incremental_release"].oracle}),
    sc AS ({QUERIES["txt14_pii_scrub"].oracle})
    SELECT cp.release, cp.shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(cp.n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(sc.n_emails + sc.n_phones + sc.n_handles) AS BIGINT)
               AS n_redactions,
           CAST(SUM(CAST('0x' || substring(sc.scrubbed_md5, 1, 12)
               AS BIGINT)) AS BIGINT) AS shard_checksum
    FROM cp JOIN sc ON cp.doc = sc.doc
    GROUP BY cp.release, cp.shard
    """,
    eager=True,  # composes cp3 (cm2 pins at construction)
)
def cp8_delta_shard_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard integrity for the DELTA release (VERDICT r11 #1 —
    cp6 checksums only cp1's shards, leaving the daily increments
    unverifiable): one row per (release, shard) of cp3's append-only
    delta layout with the same consumer-verification columns cp6
    publishes — doc count, token count, total redactions, and the
    order-insensitive content checksum (BIGINT sum of each member's
    scrubbed-text md5 48-bit prefix — commutative, any file order
    verifies; same ~2^58 overflow headroom as cp6, ANSI throws rather
    than wraps). The ``release`` key makes the merged verification
    table explicit: cp6's rows (the implicit 'full' namespace) ∪ these
    'delta' rows — one table a consumer checks ANY shipped shard
    against, exactly how cp3 defines the merged release layout.

    Oracle nests cp3's and txt14's registered SQL verbatim — the
    driver's verdict covers admission → mixture → shuffle → packing →
    scrub → per-shard rollup of the daily path as one chain (the cp6
    statement, batch-grain). Scale shape: cp3's rows are
    admitted-batch-grain metadata; the join to txt14 is a unique-keyed
    doc-grain equi-join and the rollup is one map-side-combined
    groupBy(release, shard) with |delta shards| output rows —
    batch-proportional. NOT a bench line (cp4 precedent: re-runs
    cp3's chain, already priced; txt14 priced on its own line). The
    gate-scale batch packs into one delta shard, so the multi-shard
    grain, order-insensitivity, and Python recompute are pinned on
    the constructed fixture in tests/test_manifest.py (cp6's
    convention)."""
    cp = (
        QUERIES["cp3_incremental_release"]
        .fn(spark, sf_dir)
        .select("release", "doc", "shard", "n_tokens")
    )
    sc = QUERIES["txt14_pii_scrub"].fn(spark, sf_dir)
    chk = _md5_prefix_checksum()
    return (
        cp.join(sc, "doc")
        .groupBy("release", "shard")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum(
                F.col("n_emails") + F.col("n_phones") + F.col("n_handles")
            )
            .cast("bigint")
            .alias("n_redactions"),
            F.sum(chk).cast("bigint").alias("shard_checksum"),
        )
    )


# ---------------------------------------------------------------------------
# CP9 — TAKEDOWN PROPAGATION: deletes are a release operation too. A
# 100 TB corpus receives erasure requests (DMCA takedowns, GDPR
# art. 17 right-to-erasure, opt-outs) AFTER shards have shipped; the
# pipeline must answer "which shards change, and what do they verify
# to afterward?" — rewriting only those. cdc1/cdc2 handle row upserts
# on the events store; cp9 is the delete path of the RELEASE chain.
# ---------------------------------------------------------------------------

_CP9_SALT = "takedown"
# first-2-hex-chars threshold: 0x10/0x100 = 1/16 of doc ids — the
# deterministic stand-in for an external request list (the cm2
# arrival-subset precedent: a real pipeline joins a requests table on
# doc_id; nothing else here changes).
_CP9_HEX_THR = "10"


def takedown_flag(doc_col: Column) -> Column:
    """True for docs named by the (deterministic stand-in) takedown
    request list: salted-md5 first two hex chars below the threshold,
    ~1/16 of ids. Engine-portable (md5 + substring compare, the sp1
    hash-split convention)."""
    return (
        F.substring(
            F.md5(F.concat(F.lit(_CP9_SALT + ":"), doc_col.cast("string"))),
            1,
            2,
        )
        < _CP9_HEX_THR
    )


def takedown_rewrite_rollup(layout: DataFrame, scrub: DataFrame) -> DataFrame:
    """The rewrite work-list: per (release, shard) of ``layout``
    ((release, doc, shard, n_tokens) rows) joined with txt14-shaped
    ``scrub`` columns keyed ``doc``, the before/after verification
    numbers under the takedown flag — ONLY shards that lose at least
    one doc (untouched shards need no rewrite and no new checksum).
    ONE definition shared by the registered cp9 entry and the
    multi-shard fixture test (the _layout_chain convention: a
    threshold/salt edit moves entry and test in lockstep)."""
    chk = _md5_prefix_checksum()
    j = layout.join(scrub, "doc").withColumn("_td", takedown_flag(F.col("doc")))
    return (
        j.groupBy("release", "shard")
        .agg(
            F.count("*").cast("bigint").alias("n_docs_before"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens_before"),
            F.sum(chk).cast("bigint").alias("checksum_before"),
            F.sum(F.col("_td").cast("bigint")).alias("n_removed"),
            F.sum((~F.col("_td")).cast("bigint")).alias("n_docs_after"),
            F.sum(F.when(~F.col("_td"), F.col("n_tokens")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_tokens_after"),
            F.sum(F.when(~F.col("_td"), chk).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("checksum_after"),
        )
        .filter(F.col("n_removed") > 0)
    )


@query(
    "cp9_takedown_rewrite",
    # cpf/cpd/sc are AS MATERIALIZED (VERDICT r13 #2, the dq5 precedent
    # applied proactively — see cp4's note): one evaluation per nested
    # chain pinned at the artifact boundary; single-reference here, so
    # this is regime insurance, not a measured win. Cost NEUTRAL
    # tri-scale (sf0.01 31.5s plain vs 35.1s mat; sf0.1 repeated
    # 62–80s both forms — within box noise), results identical
    # tri-scale (SCALE_r14 §3).
    f"""
    WITH cpf AS MATERIALIZED ({QUERIES["cp1_curated_corpus"].oracle}),
    cpd AS MATERIALIZED ({QUERIES["cp3_incremental_release"].oracle}),
    sc AS MATERIALIZED ({QUERIES["txt14_pii_scrub"].oracle}),
    lay AS (
        SELECT 'full' AS release, doc, shard, n_tokens FROM cpf
        UNION ALL
        SELECT release, doc, shard, n_tokens FROM cpd
    ),
    j AS (
        SELECT lay.release, lay.shard, lay.n_tokens,
               CAST('0x' || substring(sc.scrubbed_md5, 1, 12) AS BIGINT)
                   AS chk,
               substring(md5('{_CP9_SALT}:' || CAST(lay.doc AS VARCHAR)),
                         1, 2) < '{_CP9_HEX_THR}' AS td
        FROM lay JOIN sc ON lay.doc = sc.doc
    )
    SELECT release, shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs_before,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_before,
           CAST(SUM(chk) AS BIGINT) AS checksum_before,
           CAST(SUM(CASE WHEN td THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           CAST(SUM(CASE WHEN td THEN 0 ELSE 1 END) AS BIGINT)
               AS n_docs_after,
           CAST(SUM(CASE WHEN td THEN 0 ELSE n_tokens END) AS BIGINT)
               AS n_tokens_after,
           CAST(SUM(CASE WHEN td THEN 0 ELSE chk END) AS BIGINT)
               AS checksum_after
    FROM j
    GROUP BY release, shard
    HAVING SUM(CASE WHEN td THEN 1 ELSE 0 END) > 0
    """,
    eager=True,  # composes cp1 + cp3 (cm1/cm2 pin at construction)
)
def cp9_takedown_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TAKEDOWN PROPAGATION over the ENTIRE shipped corpus — cp1's
    full release ∪ cp3's delta shards, the same union cp6 ∪ cp8
    verify: one row per (release, shard) that loses at least one doc
    to the request list, carrying before/after doc counts, token
    counts, and order-insensitive content checksums (cp6's 48-bit
    md5-prefix sum; after = before minus exactly the removed members'
    terms — commutativity is what makes the delta patchable without
    re-reading unaffected files). This is the rewrite WORK-LIST a
    100 TB release runs erasure with: shards absent from the table
    keep their cp6/cp8 rows; shards present are rewritten and their
    verification rows replaced by the *_after columns. The request
    list is a deterministic salted-hash stand-in for an external
    requests table (~1/16 of ids; the cm2 arrival-subset precedent —
    a real pipeline equi-joins its requests table on doc_id and
    nothing else changes).

    Oracle nests cp1's, cp3's, and txt14's registered SQL verbatim —
    the driver's verdict covers full-release layout ∪ delta layout →
    scrub → flag → per-shard before/after rollup as one chain. Scale
    shape: both layouts are admitted-doc-grain metadata; the join to
    txt14 is a unique-keyed doc-grain equi-join; the rollup is one
    map-side-combined groupBy(release, shard) and the output is
    |affected shards| rows — erasure cost scales with the request
    list, not the corpus. NOT a bench line (cp4 precedent: re-runs
    cp1's and cp3's chains, each already priced). Gate-scale
    disclosure: at sf0.01 the released sets are small (17 full / 2
    delta docs), so only the 'full' namespace is hit (1 doc removed,
    1 shard affected; sf0.1 hits both: 21 full + 5 delta); the
    multi-shard / both-namespace grain and the checksum-delta
    arithmetic are pinned on a constructed fixture in
    tests/test_manifest.py (cp6/cp8's convention)."""
    cpf = (
        QUERIES["cp1_curated_corpus"]
        .fn(spark, sf_dir)
        .select(F.lit("full").alias("release"), "doc", "shard", "n_tokens")
    )
    cpd = (
        QUERIES["cp3_incremental_release"]
        .fn(spark, sf_dir)
        .select("release", "doc", "shard", "n_tokens")
    )
    scrub = QUERIES["txt14_pii_scrub"].fn(spark, sf_dir)
    return takedown_rewrite_rollup(cpf.unionByName(cpd), scrub)


# ---------------------------------------------------------------------------
# DQ5 — the expectation suite a RELEASE CONSUMER runs (VERDICT r12
# "Next round" #5: dq3 validates ingest; nothing validated what
# SHIPS). Contract checks over the shipped artifacts themselves —
# store, layout, integrity tables, full and delta — completing the dq
# arc ingest → release.
# ---------------------------------------------------------------------------


def release_expectation_suite(
    layout_full: DataFrame,
    store_full: DataFrame,
    integrity_full: DataFrame,
    layout_delta: DataFrame,
    store_delta: DataFrame,
    integrity_delta: DataFrame,
) -> DataFrame:
    """The dq5 suite as ONE definition over the six release artifacts
    (cp1/cp5/cp6 full, cp3/cp7/cp8 delta) — shared by the registered
    entry and the tampered-artifact fixture in tests/test_manifest.py
    (the takedown_rewrite_rollup convention: the fixture is the only
    place the consistency expectations' RED branches can occur, since
    the real chain derives store and integrity from the same keep set
    — disclosed in the entry docstring). Layout frames carry
    (doc, shard, n_tokens) (+release for delta); store frames carry
    (doc_id, n_redactions, scrubbed_md5); integrity frames are
    cp6/cp8-shaped. Returns dq3's exact row schema:
    (table_name, expectation, n_rows, n_violations, passed)."""
    from ..operators import profiling

    def _row(table: str, name: str, n_rows: Column, n_viol: Column):
        return F.struct(
            F.lit(table).alias("table_name"),
            F.lit(name).alias("expectation"),
            n_rows.cast("bigint").alias("n_rows"),
            n_viol.cast("bigint").alias("n_violations"),
        )

    parts = [
        # 1/2 — referential: every doc the shipped shards reference
        # must exist in the scrubbed store it points into
        profiling.referential_orphans(
            layout_full, "doc", store_full, "doc_id",
            "release_full", "layout_docs_in_store",
        ),
        profiling.referential_orphans(
            layout_delta, "doc", store_delta, "doc_id",
            "release_delta", "layout_docs_in_store",
        ),
        # 3 — each store ships each doc exactly once (the delta-side
        # uniqueness also GUARDS the referential checks' shape: both
        # engines join distinct store keys — Spark via
        # referential_orphans, the SQL twin via an explicit DISTINCT
        # subquery — so a duplicated store key can never fan the
        # layout rows out asymmetrically; review finding r13)
        profiling.expectation_counts(
            store_full, "release_full", [], unique=["doc_id"]
        ),
        profiling.expectation_counts(
            store_delta, "release_delta", [], unique=["doc_id"]
        ),
        # 7 — scrub columns a consumer reads are present and sane
        profiling.expectation_counts(
            store_full.select("n_redactions", "scrubbed_md5").unionByName(
                store_delta.select("n_redactions", "scrubbed_md5")
            ),
            "release_merged",
            [
                (
                    "scrub_columns_sane",
                    ~(F.col("n_redactions") >= 0)
                    | F.col("n_redactions").isNull()
                    | F.col("scrubbed_md5").isNull(),
                ),
            ],
        ),
    ]
    # 4 — merged-store uniqueness: the full store and the delta store
    # must not ship the same doc twice (scalar-counter convention:
    # two 1-row aggregates cross-joined)
    tot = (
        store_full.select("doc_id")
        .unionByName(store_delta.select("doc_id"))
        .agg(F.count("*").alias("_n"))
    )
    ov = (
        store_full.select("doc_id")
        .join(store_delta.select("doc_id"), "doc_id")
        .agg(F.count("*").alias("_v"))
    )
    parts.append(
        tot.crossJoin(ov)
        .select(
            _row(
                "release_merged", "full_delta_disjoint",
                F.col("_n"), F.coalesce(F.col("_v"), F.lit(0)),
            ).alias("p")
        )
        .select("p.*")
        .withColumn("passed", F.col("n_violations") == 0)
    )
    # 5/6 — integrity-table consistency: recompute each shard's
    # verification row from layout ⋈ store and compare to the
    # PUBLISHED integrity table (full outer — a shard missing from
    # either side is a violation too)
    for keys, lay, st, integ, table in (
        (["shard"], layout_full, store_full, integrity_full,
         "release_full"),
        (["release", "shard"], layout_delta, store_delta,
         integrity_delta, "release_delta"),
    ):
        rec = (
            lay.join(st.withColumnRenamed("doc_id", "doc"), "doc")
            .groupBy(*keys)
            .agg(
                F.count("*").cast("bigint").alias("_nd"),
                F.sum("n_tokens").cast("bigint").alias("_nt"),
                F.sum("n_redactions").cast("bigint").alias("_nr"),
                F.sum(_md5_prefix_checksum()).cast("bigint").alias("_ck"),
            )
        )
        j = rec.join(integ, keys, "full")
        ok = (
            F.col("_nd").eqNullSafe(F.col("n_docs"))
            & F.col("_nt").eqNullSafe(F.col("n_tokens"))
            & F.col("_nr").eqNullSafe(F.col("n_redactions"))
            & F.col("_ck").eqNullSafe(F.col("shard_checksum"))
        )
        parts.append(
            j.agg(
                F.count(F.lit(1)).alias("_n"),
                F.sum((~ok).cast("long")).alias("_v"),
            )
            .select(
                _row(
                    table, "shard_integrity_consistent",
                    F.col("_n"), F.coalesce(F.col("_v"), F.lit(0)),
                ).alias("p")
            )
            .select("p.*")
            .withColumn("passed", F.col("n_violations") == 0)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# The six artifact CTEs are AS MATERIALIZED: each is referenced by
# several expectations, and DuckDB's inlining heuristic re-evaluated
# the whole nested cp chain PER REFERENCE (measured >600s at the
# sf0.01 gate without the hint — the references share one evaluation,
# which is also what the Spark side does via .fn reuse). The top-level
# hint alone was not enough: the multi-referenced CTEs NESTED inside
# the chain — cp1/cp3's adm (shuf + cj), sql_temperature_mix's nz/tot
# (tot + c, g + b) and cm1's base (the main select + dc2's split rel)
# — were still inlined per reference, and nesting multiplies those
# re-evaluations (cm1 → kept → mix → adm → shuf/cj). That was the
# per-reference cost that remained: 141s at sf0.01 on a quiet host,
# and at sf0.001 (500 documents) an OutOfMemoryException at DuckDB's
# default 12.5 GiB limit after ~254s. With those CTEs materialized
# too (4 threads, DuckDB 1.0.0, DuckDB side only): sf0.001 ~7s /
# 0.6 GB RSS, sf0.01 ~8s, cp1 alone 78s → 1.6s at sf0.001;
# tests/test_manifest.py pins dq5 to complete under 4 threads / 4GB,
# where the unhinted text runs out of memory. Results are unchanged.
_DQ5_SQL = f"""
    WITH dq5_lf AS MATERIALIZED ({{cp1}}),
    dq5_sf AS MATERIALIZED ({{cp5}}),
    dq5_if AS MATERIALIZED ({{cp6}}),
    dq5_ld AS MATERIALIZED ({{cp3}}),
    dq5_sd AS MATERIALIZED ({{cp7}}),
    dq5_id AS MATERIALIZED ({{cp8}}),
    dq5_parts AS (
        SELECT 'release_full' AS table_name,
               'layout_docs_in_store' AS expectation,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COALESCE(SUM(CASE WHEN s.doc_id IS NULL
                   THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_violations
        FROM dq5_lf l LEFT JOIN (SELECT DISTINCT doc_id FROM dq5_sf) s
          ON l.doc = s.doc_id
        UNION ALL
        SELECT 'release_delta', 'layout_docs_in_store',
               CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(CASE WHEN s.doc_id IS NULL
                   THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM dq5_ld l LEFT JOIN (SELECT DISTINCT doc_id FROM dq5_sd) s
          ON l.doc = s.doc_id
        UNION ALL
        SELECT 'release_full', 'doc_id_unique',
               CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(doc_id) - COUNT(DISTINCT doc_id) AS BIGINT)
        FROM dq5_sf
        UNION ALL
        SELECT 'release_delta', 'doc_id_unique',
               CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(doc_id) - COUNT(DISTINCT doc_id) AS BIGINT)
        FROM dq5_sd
        UNION ALL
        SELECT 'release_merged', 'scrub_columns_sane',
               CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(CASE WHEN NOT (n_redactions >= 0)
                   OR n_redactions IS NULL OR scrubbed_md5 IS NULL
                   THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM (SELECT n_redactions, scrubbed_md5 FROM dq5_sf
              UNION ALL
              SELECT n_redactions, scrubbed_md5 FROM dq5_sd)
        UNION ALL
        SELECT 'release_merged', 'full_delta_disjoint',
               (SELECT CAST(COUNT(*) AS BIGINT)
                FROM (SELECT doc_id FROM dq5_sf
                      UNION ALL SELECT doc_id FROM dq5_sd)),
               (SELECT CAST(COUNT(*) AS BIGINT)
                FROM dq5_sf f JOIN dq5_sd d ON f.doc_id = d.doc_id)
        UNION ALL
        SELECT 'release_full', 'shard_integrity_consistent',
               CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(CASE WHEN NOT (
                   r._nd IS NOT DISTINCT FROM i.n_docs
                   AND r._nt IS NOT DISTINCT FROM i.n_tokens
                   AND r._nr IS NOT DISTINCT FROM i.n_redactions
                   AND r._ck IS NOT DISTINCT FROM i.shard_checksum)
                   THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM (
            SELECT l.shard,
                   CAST(COUNT(*) AS BIGINT) AS _nd,
                   CAST(SUM(l.n_tokens) AS BIGINT) AS _nt,
                   CAST(SUM(s.n_redactions) AS BIGINT) AS _nr,
                   CAST(SUM(CAST('0x' || substring(s.scrubbed_md5, 1, 12)
                       AS BIGINT)) AS BIGINT) AS _ck
            FROM dq5_lf l JOIN dq5_sf s ON l.doc = s.doc_id
            GROUP BY l.shard
        ) r FULL JOIN dq5_if i ON r.shard = i.shard
        UNION ALL
        SELECT 'release_delta', 'shard_integrity_consistent',
               CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(CASE WHEN NOT (
                   r._nd IS NOT DISTINCT FROM i.n_docs
                   AND r._nt IS NOT DISTINCT FROM i.n_tokens
                   AND r._nr IS NOT DISTINCT FROM i.n_redactions
                   AND r._ck IS NOT DISTINCT FROM i.shard_checksum)
                   THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM (
            SELECT l.release, l.shard,
                   CAST(COUNT(*) AS BIGINT) AS _nd,
                   CAST(SUM(l.n_tokens) AS BIGINT) AS _nt,
                   CAST(SUM(s.n_redactions) AS BIGINT) AS _nr,
                   CAST(SUM(CAST('0x' || substring(s.scrubbed_md5, 1, 12)
                       AS BIGINT)) AS BIGINT) AS _ck
            FROM dq5_ld l JOIN dq5_sd s ON l.doc = s.doc_id
            GROUP BY l.release, l.shard
        ) r FULL JOIN dq5_id i
            ON r.release = i.release AND r.shard = i.shard
    )
    SELECT table_name, expectation, n_rows, n_violations,
           n_violations = 0 AS passed
    FROM dq5_parts
"""


@query(
    "dq5_release_expectations",
    _DQ5_SQL.format(
        cp1=QUERIES["cp1_curated_corpus"].oracle,
        cp5=QUERIES["cp5_scrubbed_release"].oracle,
        cp6=QUERIES["cp6_shard_integrity"].oracle,
        cp3=QUERIES["cp3_incremental_release"].oracle,
        cp7=QUERIES["cp7_scrubbed_delta_store"].oracle,
        cp8=QUERIES["cp8_delta_shard_integrity"].oracle,
    ),
    eager=True,  # composes the cp chain (cm1/cm2 pin at construction)
)
def dq5_release_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The expectation suite a RELEASE CONSUMER runs (dq3's shape over
    what SHIPS, completing the dq arc ingest → release — VERDICT r12
    "Next round" #5): eight named contracts over the six shipped
    artifacts — cp1/cp5/cp6 (full layout / store / integrity) and
    cp3/cp7/cp8 (delta) — in dq3's exact row schema:

      - layout_docs_in_store (full, delta): every doc a shipped shard
        references exists in the scrubbed store its offsets point
        into (referential, LEFT JOIN — the check that catches a
        store/layout publish race);
      - doc_id_unique (full AND delta store): each store ships each
        doc once — also the guard that keeps both engines' referential
        joins (distinct store keys) equivalent to the raw store;
      - scrub_columns_sane (merged): n_redactions present and ≥ 0,
        scrubbed_md5 present, on every store row;
      - full_delta_disjoint (merged): no doc ships in BOTH the full
        store and a delta — THE red row at gate scale: cm2's arriving
        batch is a hash-slice of the same documents table cm1
        curates (the stand-in fictions overlap, disclosed on cm2), so
        admitted docs also in cm1's keep set ship twice and the
        violation-counting path runs on REAL rows at every sf (the
        txt8 rule's purpose — a suite that only passes pins nothing);
      - shard_integrity_consistent (full, delta): recompute each
        shard's (n_docs, n_tokens, n_redactions, checksum) from
        layout ⋈ store and compare against the PUBLISHED cp6/cp8
        rows, full-outer so missing/extra shards violate too — the
        consumer's download-verification loop. Green on the real
        chain by shared ancestry (store and integrity derive from one
        keep set); the RED branches are pinned on tampered artifacts
        in tests/test_manifest.py via the shared
        release_expectation_suite builder (takedown_rewrite_rollup's
        fixture convention).

    Oracle nests all six registered cp oracles verbatim (dq5_-prefixed
    outer CTEs — the SCALE_r10 §7 rule: never shadow a nested
    recursive body's CTE names). Scale shape: every check is a
    doc-grain unique-keyed join or a |shards|-grain rollup over
    already-checkpointed release artifacts — at 100 TB the suite is
    one metadata pass per artifact, batch-proportional on the delta
    side. NOT a bench line (cp4 precedent: re-runs the cp chains,
    each already priced)."""
    lf = QUERIES["cp1_curated_corpus"].fn(spark, sf_dir).select(
        "doc", "shard", "n_tokens"
    )
    sf_ = QUERIES["cp5_scrubbed_release"].fn(spark, sf_dir).select(
        "doc_id", "n_redactions", "scrubbed_md5"
    )
    if_ = QUERIES["cp6_shard_integrity"].fn(spark, sf_dir)
    ld = QUERIES["cp3_incremental_release"].fn(spark, sf_dir).select(
        "release", "doc", "shard", "n_tokens"
    )
    sd = QUERIES["cp7_scrubbed_delta_store"].fn(spark, sf_dir).select(
        "doc_id", "n_redactions", "scrubbed_md5"
    )
    id_ = QUERIES["cp8_delta_shard_integrity"].fn(spark, sf_dir)
    return release_expectation_suite(lf, sf_, if_, ld, sd, id_)
