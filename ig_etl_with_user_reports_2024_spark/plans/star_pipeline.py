"""Beyond-reference pipeline operators wired to the driver testdata
(documents / embeddings tables): dedup, similarity search, text analysis,
multimodal plumbing. BASELINE.json north star — first-class components.

Exact variants carry full DuckDB oracles; the approximate/scale variants
(MinHash-LSH, SimHash, hyperplane-LSH ANN, rolling hash) are Spark-only
(rows checks) with recall/consistency tests against their exact
counterparts in tests/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.local_dim import local_dim
from pyspark.sql.window import Window

from .. import dims
from .. import dims_bpe
from .. import dims_bpe50k
from ..operators import dedup as dd
from ..operators import multimodal as mm
from ..operators import packing as pk
from ..operators import similarity as sim
from ..operators import textops as tx
from ..operators import sampling
from ..operators.sampling import sql_hash_split
from ..sources.readers import load_table
from .registry import QUERIES, query

# Shared DuckDB fragments — built from the canonical helpers in
# operators/dedup so the tokenizer text has ONE definition repo-wide.
_WORDS_SQL = dd.sql_words()
_SHINGLES_SQL = dd.sql_shingles()

# ---------------------------------------------------------------------------
# DD1 — exact dedup via content digest.
# ---------------------------------------------------------------------------


@query(
    "dd1_exact_dedup",
    """
    WITH hashed AS (
        SELECT md5(text) AS content_digest, doc_id FROM documents
    ), ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY content_digest ORDER BY doc_id ASC
        ) AS rn
        FROM hashed
    )
    SELECT content_digest, doc_id FROM ranked WHERE rn = 1
    """,
)
def dd1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 digest hash-groupBy, lowest doc_id survives.

    The shuffle carries (digest, id) only — never the document body —
    which is what makes this a 100 TB-viable single pass.
    """
    docs = load_table(spark, sf_dir, "documents")
    return dd.exact_dedup(docs, "text", order_cols=["doc_id"])


# ---------------------------------------------------------------------------
# DD2 — exact word-3-gram Jaccard near-dup pairs (oracle-checked baseline).
# ---------------------------------------------------------------------------


@query(
    "dd2_ngram_jaccard_pairs",
    f"""
    WITH words AS (
        SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
    ), shingles AS (
        SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM words
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_common
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT a_id, b_id,
           n_common / (sa.n + sb.n - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE n_common / (sa.n + sb.n - n_common) >= 0.2
    """,
)
def dd2_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs (threshold 0.2).

    operators/dedup.shingle_pairs_jaccard: shingle explode → self-join on
    the shingle → intersection counts → Jaccard. The exact baseline the
    MinHash/SimHash variants are measured against.
    """
    docs = load_table(spark, sf_dir, "documents")
    return dd.shingle_pairs_jaccard(docs, "doc_id", "text", n=3, threshold=0.2)


# the dd2 pair set as a reusable fragment (dd6 builds its closure on it)
_PAIRS_SQL = f"""
    WITH words AS (
        SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
    ), shingles AS (
        SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM words
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_common
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT a_id, b_id
    FROM inter
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE n_common / (sa.n + sb.n - n_common) >= 0.2
"""


@query(
    "dd6_dup_clusters",
    f"""
    WITH RECURSIVE pairs AS ({_PAIRS_SQL}),
    edges AS (
        SELECT a_id AS a, b_id AS b FROM pairs
        UNION ALL
        SELECT b_id AS a, a_id AS b FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT d.doc_id,
           CAST(LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS BIGINT)
               AS cluster_id
    FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
    GROUP BY d.doc_id
    """,
    eager=True,  # per-round collect/localCheckpoint at construction
)
def dd6_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from dd2's exact pair set: connected components
    by iterative min-label propagation (operators/graph.py), canonical
    id = min doc_id per component. A~B, B~C collapse into one cluster
    even though A,C never matched — the transitive step pair queries
    can't express. Oracle: DuckDB recursive-CTE transitive closure over
    the SAME pair set."""
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.shingle_pairs_jaccard(
        docs, "doc_id", "text", n=3, threshold=0.2, eager_pins=True
    )
    return connected_components(docs.select("doc_id"), pairs)


@query(
    "dd8_dedup_keep_list",
    f"""
    WITH RECURSIVE pairs AS ({_PAIRS_SQL}),
    edges AS (
        SELECT a_id AS a, b_id AS b FROM pairs
        UNION ALL
        SELECT b_id AS a, a_id AS b FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    labeled AS (
        SELECT d.doc_id,
               CAST(LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS BIGINT)
                   AS cluster_id
        FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
        GROUP BY d.doc_id
    )
    SELECT doc_id, cluster_id, doc_id = cluster_id AS kept,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS cluster_size
    FROM labeled
    """,
    eager=True,  # per-round collect/localCheckpoint at construction
)
def dd8_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup family's END PRODUCT: the corpus keep-list. Composes
    dd2's exact pair set → dd6's connected components → keep the
    canonical (minimum-id) doc per cluster, with the cluster size as
    the removal accounting a corpus report needs. ``kept=false`` rows
    ARE the dedup savings; ``sum(cluster_size - 1) where kept`` is the
    removed-doc count. This entry is the EXACT-pair yardstick (like
    dd2): at 100 TB run dd10_keep_list_banded below — the same CC +
    keep logic fed from LSH-banded verified candidates, itself
    hash-checked — instead of this quadratic pair stage.
    Oracle: dd6's recursive-CTE closure extended with the keep flag and
    a cluster-size window (the Spark plan computes the identical size
    via map-side-combined groupBy + salted join — see
    operators/dedup.keep_list_with_sizes — so a degenerate mega-cluster
    never pins one task)."""
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.shingle_pairs_jaccard(
        docs, "doc_id", "text", n=3, threshold=0.2, eager_pins=True
    )
    cc = connected_components(docs.select("doc_id"), pairs)
    return dd.keep_list_with_sizes(cc)


@query(
    "dd10_keep_list_banded",
    f"""
    WITH RECURSIVE {dd.sql_portable_minhash_pairs("documents")},
    edges AS (
        SELECT a_id AS a, b_id AS b FROM pairs
        UNION ALL
        SELECT b_id AS a, a_id AS b FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    labeled AS (
        SELECT d.doc_id,
               CAST(LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS BIGINT)
                   AS cluster_id
        FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
        GROUP BY d.doc_id
    )
    SELECT doc_id, cluster_id, doc_id = cluster_id AS kept,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS cluster_size
    FROM labeled
    """,
    eager=True,  # per-round collect/localCheckpoint at construction
)
def dd10_keep_list_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-SAFE dedup end product: dd8's keep-list with the pair
    stage swapped from dd2's quadratic exact shingle self-join to
    LSH-banded candidates verified by candidate-restricted exact
    Jaccard (operators/dedup.portable_minhash_pairs — md5-only, so the
    banding is baked into the DuckDB oracle exactly, dc2-style). This
    is the composition a 100 TB corpus actually runs: candidate volume
    tracks duplicate density, the CC + keep logic downstream is
    unchanged from dd8, and the whole plan — banding, verify, closure,
    keep flag — is hash-checked end-to-end. dd8 stays registered as the
    exact-pair yardstick (its recall: a near-dup pair colliding in no
    band is missed here by LSH design).
    Oracle: the banded-pairs CTE chain feeding dd8's recursive-CTE
    closure + keep-flag/cluster-size select (sizes computed skew-safe
    on the Spark side — operators/dedup.keep_list_with_sizes)."""
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.portable_minhash_pairs(
        docs, "doc_id", "text", threshold=0.2, eager_pins=True
    )
    cc = connected_components(docs.select("doc_id"), pairs)
    return dd.keep_list_with_sizes(cc)


@query(
    "dd11_staged_keep_list",
    f"""
    WITH RECURSIVE canon0 AS (
        SELECT doc_id, text, coalesce(md5(text), '<null>') AS dg,
               row_number() OVER (
                   PARTITION BY coalesce(md5(text), '<null>')
                   ORDER BY doc_id ASC
               ) AS rn
        FROM documents
    ), canon AS (
        SELECT doc_id, text FROM canon0 WHERE rn = 1
    ),
    {dd.sql_portable_minhash_pairs("canon")},
    edges AS (
        SELECT a_id AS a, b_id AS b FROM pairs
        UNION ALL
        SELECT b_id AS a, a_id AS b FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    labeled AS (
        SELECT c.doc_id,
               CAST(LEAST(c.doc_id, COALESCE(MIN(r.b), c.doc_id)) AS BIGINT)
                   AS cluster_id
        FROM canon c LEFT JOIN reach r ON r.a = c.doc_id
        GROUP BY c.doc_id
    ),
    canonmap AS (
        SELECT dg, doc_id AS canon_id FROM canon0 WHERE rn = 1
    )
    SELECT d.doc_id, l.cluster_id, d.doc_id = l.cluster_id AS kept,
           CAST(COUNT(*) OVER (PARTITION BY l.cluster_id) AS BIGINT)
               AS cluster_size
    FROM canon0 d
    JOIN canonmap m ON d.dg = m.dg
    JOIN labeled l ON l.doc_id = m.canon_id
    """,
    eager=True,  # per-round collect/localCheckpoint at construction
)
def dd11_staged_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION dedup end product: digest-dedup FIRST (dd1's
    exact collapse), then the banded near-dup keep-list (dd10's
    machinery) over the text-DISTINCT canonical docs only, then every
    original doc mapped back through its digest to its cluster.

    Semantics vs dd10 (the claim, scoped precisely): for docs whose
    text yields >= 1 shingle (>= 3 normalized words), result rows are
    provably identical — exact twins share every MinHash signature, so
    they band-collide with certainty and merge into the same cluster
    either way. For SHINGLE-LESS exact twins (< 3 words, or NULL text
    — digested as '<null>'), dd11 STRICTLY SUPERSETS dd10's merging:
    the digest stage collapses them while dd10's LSH never sees them
    (no shingles → no bands). That is the intended production
    semantics — byte-identical documents are duplicates regardless of
    length, and LSH's shingle floor is a candidate-generation
    limitation, not a definition of "duplicate". cm1 composes dd11 and
    inherits exactly this. tests/test_dedup.py pins both halves:
    equality with dd10 restricted to shingled docs, and the
    short-twin/NULL-text superset behavior explicitly.

    The cost model changes from clique-quadratic in
    duplicate multiplicity to linear: the 128× probe that exhausted
    74 GB of shuffle disk verifying 40M replica pairs runs in ~12s
    staged (SCALE_r06.md §5). Scale shape (Window-FREE since r8,
    asserted in tests/test_plans.py): the digest stage is a
    map-side-combined groupBy(dg).min + salted join (digest_tagged),
    then the full dd10 pipeline over distinct texts, then salted
    metadata-width mapping joins. Oracle: digest-canonical CTE →
    the banded-pairs chain over it → recursive closure → per-doc
    digest mapping."""
    docs = load_table(spark, sf_dir, "documents")
    return staged_keep_list_plan(spark, docs)


def digest_tagged(docs: DataFrame) -> DataFrame:
    """(doc_id, text, dg, canon_id, is_canon): every doc with its
    NULL-safe content digest, its digest group's canonical lowest-id
    survivor, and whether this row IS that survivor. The first stage of
    dd11, exposed so cm1 can derive it ONCE and thread it through both
    its dedup and decontamination subtrees.

    Skew-safe since r8: the old form ranked with ``row_number() over
    (partition by dg order by doc_id)``, which ships every copy of a
    duplicated document into ONE window task — on the corpus shape
    dedup exists for (one document duplicated millions of times) the
    hot digest partition is the whole pathology. The survivor rule only
    ever needs rank 1, and rank 1 = ``doc_id = min(doc_id) within dg``,
    so the plan is now a map-side-combined ``groupBy(dg).min(doc_id)``
    (the hot digest contributes one row per input partition to that
    shuffle) plus a salted join back (operators/skew.salted_join; the
    mega-cluster's member rows spread across the salt shards). Probed
    at 640k copies of one document — tools/megacluster_probe.py,
    SCALE_r08.md.

    NULL-safe digest: a NULL text must still flow through the digest
    equi-joins downstream (NULL = NULL matches nothing in either
    engine, so an un-coalesced digest would silently drop the doc from
    the keep-list — and from cm1's manifest). '<null>' makes all
    NULL-text docs exact twins of each other: identical (absent)
    content, one canonical survivor."""
    from ..operators.skew import salted_join

    base = docs.select(
        "doc_id",
        "text",
        F.coalesce(
            F.md5(F.col("text").cast("binary")), F.lit("<null>")
        ).alias("dg"),
    )
    mins = base.groupBy("dg").agg(F.min("doc_id").alias("canon_id"))
    return salted_join(base, mins, on="dg", salt_by=["doc_id"]).select(
        "doc_id",
        "text",
        "dg",
        "canon_id",
        (F.col("doc_id") == F.col("canon_id")).alias("is_canon"),
    )


def staged_keep_list_plan(
    spark: SparkSession,
    docs: DataFrame,
    tagged: DataFrame | None = None,
    sh_canon: DataFrame | None = None,
    sig_canon: DataFrame | None = None,
) -> DataFrame:
    """dd11's plan over an arbitrary documents DataFrame. ``tagged``
    (a :func:`digest_tagged` table, ideally pinned) and ``sh_canon``
    (the canon docs' exploded-shingle table, pinned by the caller) are
    injectable so cm1 can share ONE digest pass and ONE shingle
    explode across its dd11/dc2 subtrees instead of each re-deriving
    them; ``sig_canon`` (a pinned 16-min
    operators/dedup.minhash_signature_table over ``sh_canon``)
    additionally shares the signature pass — cm1 derives its (16,4)
    dedup bands AND its (8,4) decontamination bands from that one
    table. Standalone dd11 builds everything itself."""
    from ..operators.graph import connected_components

    from ..operators.skew import salted_join

    if tagged is None:
        tagged = digest_tagged(docs)
    canon = tagged.filter(F.col("is_canon")).select("doc_id", "text")
    if sh_canon is None:
        pairs = dd.portable_minhash_pairs(
            canon, "doc_id", "text", threshold=0.2, eager_pins=True
        )
    else:
        pairs = dd.portable_minhash_pairs_from_shingles(
            sh_canon, threshold=0.2, sig=sig_canon, eager_pins=True
        )
    cc = connected_components(canon.select("doc_id"), pairs)
    # tagged already carries canon_id, so the digest→canon mapping join
    # is gone; the cc attach is canon-grain (one hot canon_id per
    # mega-cluster) → salted, like every doc-grain join on this path.
    members = salted_join(
        tagged.select("doc_id", "canon_id"),
        cc.withColumnRenamed("doc_id", "canon_id"),
        on="canon_id",
        salt_by=["doc_id"],
    ).select("doc_id", "cluster_id")
    # cluster_size via map-side-combined groupBy + salted join, NOT a
    # cluster-partitioned window — one doc duplicated millions of times
    # must not pin one task (operators/dedup.keep_list_with_sizes).
    return dd.keep_list_with_sizes(members)


@query(
    "sp4_cluster_split",
    f"""
    WITH kl AS ({{dd11}})
    SELECT d.doc_id, d.source, k.cluster_id,
           {sql_hash_split('k.cluster_id')} AS split
    FROM documents d JOIN kl k ON d.doc_id = k.doc_id
    """.format(dd11=QUERIES["dd11_staged_keep_list"].oracle),
    eager=True,  # composes dd11 — CC collects at construction
)
def sp4_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-PROOF train/val/test split (VERDICT r9 "Next round"
    #1): sp1 assigns splits by DOC hash, so members of a near-dup
    cluster can land in different splits — exactly the contamination
    dc1/dc2/dc3 then mop up after the fact (rf13 counted 273
    cross-split semantic τ-pairs at sf0.1; the lexical probe counted
    6/11/88 multi-member dd11 clusters straddling sp1's boundary at
    sf0.001/0.01/0.1). The production fix is to split by the DUP
    CLUSTER: every doc joins dd11's staged keep-list and the hash is
    taken over its ``cluster_id`` (singletons are their own cluster,
    id = doc_id), so all members of a cluster share a split BY
    CONSTRUCTION — no post-hoc decontamination needed for anything
    the dedup family can see. Because the salt and thresholds match
    sp1's, a singleton's assignment is bit-identical to sp1's: the
    two splits differ only on non-canonical cluster members
    (test-pinned, with the companion measurement that dc1's exact
    contamination hits drop under sp4 — tests/test_sampling.py).

    Scale shape: dd11's staged keep-list (digest first, banded LSH
    over text-distinct docs — linear in dup multiplicity, window-free,
    mega-cluster-probed) plus ONE doc_id-grain equi-join (both sides
    unique on doc_id — no skew) and a pure split projection; the
    oracle nests dd11's registered SQL verbatim, so the driver verdict
    covers keep-list + mapping + split as one chain."""
    docs = load_table(spark, sf_dir, "documents")
    kl = staged_keep_list_plan(spark, docs).select("doc_id", "cluster_id")
    joined = docs.select("doc_id", "source").join(kl, "doc_id")
    return sampling.hash_split(joined, key="cluster_id").select(
        "doc_id", "source", "cluster_id", "split"
    )


@query(
    "dc4_split_leakage_eval",
    None,  # placeholder — rebound below (needs _PREFIX_FP_SQL, defined
    # in star_sampling, imported there to keep ONE fingerprint source)
    eager=True,  # composes dd11 — CC collects at construction
)
def dc4_split_leakage_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The split-leakage EVAL — VERDICT r9 #1's companion measurement
    as a driver verdict (dd16/ii6 convention: the floors bound, the
    evals MEASURE): one integer row comparing dc1's exact-fingerprint
    contamination count under sp1's doc-hash split vs sp4's
    cluster-hash split. ``n_leaks_doc_split`` is how many train docs
    leak an eval doc's 8-word prefix when splits ignore duplicate
    structure (6 / 11 / 86 measured at sf0.001/0.01/0.1);
    ``n_leaks_cluster_split`` is the same count under sp4 — 0 at
    every measured scale, because every dc1 prefix-twin pair in this
    corpus is also a dd11 near-dup pair, so cluster-splitting
    co-locates it. The pair of numbers IS the capability claim:
    cluster-aware splitting removes the leakage the dedup family can
    see, before any post-hoc decontamination runs. (A prefix-twin
    pair below the LSH Jaccard threshold could still straddle — the
    residual dc1/dc2/dc3 exist for; at these scales there are none.)

    Scale shape: ONE digest projection feeds both sides; side A is a
    pure split projection; side B adds sp4's doc-grain keep-list
    join; each leak count is a digest equi-join carrying (digest, id)
    only + a 1-row distinct-count aggregate; the two 1-row aggregates
    cross-join broadcast. NOT a bench line (cp4 precedent: it re-runs
    dd11's chain, already priced via dd11 and sp4). Oracle nests
    dd11's registered SQL + the shared dc1 fingerprint fragment +
    both split fragments."""
    from .star_sampling import _PREFIX_FP_SQL  # noqa: F401 (oracle twin)

    docs = load_table(spark, sf_dir, "documents")
    digests = docs.select(
        "doc_id",
        F.md5(
            F.array_join(
                F.slice(dd.normalized_words(F.col("text")), 1, 8), " "
            )
        ).alias("digest"),
    )
    kl = staged_keep_list_plan(spark, docs).select("doc_id", "cluster_id")
    side_a = sampling.hash_split(digests, key="doc_id").select(
        "doc_id", "digest", "split"
    )
    side_b = (
        sampling.hash_split(digests.join(kl, "doc_id"), key="cluster_id")
        .select("doc_id", "digest", "split")
    )

    def leaks(side: DataFrame, alias: str) -> DataFrame:
        ev = side.filter(F.col("split") != "train").select("digest").distinct()
        return (
            side.filter(F.col("split") == "train")
            .join(ev, "digest")
            .agg(F.count_distinct("doc_id").alias(alias))
        )

    a = leaks(side_a, "n_leaks_doc_split")
    b = leaks(side_b, "n_leaks_cluster_split")
    return a.crossJoin(F.broadcast(b))


@query(
    "sp5_joint_cluster_split",
    None,  # placeholder — rebound at module bottom (_bind_sp5_oracle
    # nests dd11's registered SQL + the shared _KM_SCORED_SQL chain)
    eager=True,  # composes dd11 + a joint CC — collects at construction
)
def sp5_joint_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JOINT-modality leakage-proof split — sp4 closed the lexical
    leak; this closes the semantic one too. sp4 hashes dd11's lexical
    dup-cluster id, but a paraphrase pair (shared meaning, no shared
    MinHash band) can still straddle its boundary: measured 7 / 8 / 86
    same-cell τ-pairs straddling sp4's split at sf0.001/0.01/0.1 —
    exactly the residue dc3 exists to mop up. Here the split hashes
    the JOINT dup-cluster: one connected-components pass over the
    union of dd11's keep-list star edges (doc → lexical canonical)
    and dc3's 2-probe same-cell cosine≥0.40 pair edges
    (semantic_multiprobe_pairs — recall-first, the r10 dc3 argument:
    an over-merged split cluster just moves docs between splits,
    harmless; a missed pair is eval leakage), so every lexical AND
    every cell-visible semantic duplicate pair co-locates BY
    CONSTRUCTION (0 straddling pairs at every measured scale,
    test-pinned; 7 / 8 / 94 docs change split vs sp4). Residual: a
    τ-pair invisible to 2-probe cells (rf12 measures capture
    0.70-0.78 on the worst-case uniform corpus) can still straddle —
    dc3 remains the registered mop-up for exactly that set.

    Same salt as sp1/sp4, so a doc that is a singleton in BOTH
    structures keeps its sp1 assignment bit-exactly. Scale shape:
    dd11's window-free staged keep-list + dd13's cell-capped pair
    stage (the two production dedup artifacts a 100 TB pipeline has
    ALREADY built — at scale both are checkpointed tables and this
    is one CC over their union plus a split projection) + the
    merge-hinted pointer-doubling CC + one doc-grain equi-join.
    Oracle nests dd11's registered SQL verbatim + the shared
    _KM_SCORED_SQL cell chain (rn <= 2, dc3's banding) + the
    dd10-pattern recursive closure over the union edge set.

    ID-SPACE ASSUMPTION (ADVICE r10 #2): the joint graph mixes edge
    endpoints from two tables — dd11's lexical edges carry doc_ids,
    the semantic τ-pair edges carry embeddings.vec_ids — and both the
    Spark CC (seeded with the documents node set) and the oracle's
    jreach MIN-label treat them as ONE id space. That is correct
    because this data model defines ``embeddings.vec_id ==
    documents.doc_id`` (TESTDATA.md; test-asserted in
    tests/test_sampling.py::test_sp5_vec_id_is_doc_id). If embeddings
    ever moved to a distinct id space, sem_edges would need a
    vec_id→doc_id mapping join ON BOTH ENGINES before the union —
    otherwise the engines silently diverge (oracle MIN would range
    over foreign vec_ids; the Spark CC would see edges to nodes
    outside its node set)."""
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    kl = staged_keep_list_plan(spark, docs).select("doc_id", "cluster_id")
    lex_edges = kl.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("a_id"), F.col("cluster_id").alias("b_id")
    )
    sem_edges = semantic_multiprobe_pairs(emb, tau=0.40, probes=2, eager_pins=True)
    joint = connected_components(
        docs.select("doc_id"), lex_edges.unionByName(sem_edges)
    )
    out = docs.select("doc_id", "source").join(joint, "doc_id")
    return sampling.hash_split(out, key="cluster_id").select(
        "doc_id", "source", "cluster_id", "split"
    )


@query(
    "dd12_repeated_span_trim",
    dd.sql_repeated_span_profile("documents"),
)
def dd12_repeated_span_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-SUBSTRING dedup (the family dd1–dd11 don't cover):
    find every maximal token run covered by a word 8-gram occurring
    >= 2 times anywhere in the corpus — within OR across documents —
    and emit, per document, the span accounting plus md5 of the
    TRIMMED text (surviving tokens in order; '<empty>' when nothing
    survives). This is the deduplicate-text-datasets capability
    (suffix-array repeated-substring removal) re-expressed as anchored
    k-gram coverage — operators/dedup.repeated_span_profile documents
    the plan shape, the suffix-array-vs-anchoring trade, and why the
    NULL-tail anchors never skew the hash join. Complements dd7
    (which flags WHICH eval 8-grams leak into train docs) by instead
    producing the per-doc trim a curation pipeline applies. One row
    per document, all-integer + md5 output → hash-exact."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.repeated_span_profile(docs, "doc_id", "text", k=8)


_DD13_SQL = """
    WITH RECURSIVE asg AS ({km1}),
    v AS (
        SELECT a.id, a.cluster_id AS cid, e.embedding,
               {norm_e} AS nrm
        FROM asg a JOIN embeddings e ON a.id = e.vec_id
    ),
    sempairs AS (
        SELECT a.id AS a_id, b.id AS b_id
        FROM v a JOIN v b ON a.cid = b.cid AND a.id < b.id
        WHERE a.nrm > 0 AND b.nrm > 0
          AND {dot_ab} / (a.nrm * b.nrm) >= 0.40
    ),
    edges AS (
        SELECT a_id AS a, b_id AS b FROM sempairs
        UNION ALL
        SELECT b_id AS a, a_id AS b FROM sempairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    labeled AS (
        SELECT e.vec_id,
               CAST(LEAST(e.vec_id, COALESCE(MIN(r.b), e.vec_id)) AS BIGINT)
                   AS cluster_id
        FROM embeddings e LEFT JOIN reach r ON r.a = e.vec_id
        GROUP BY e.vec_id
    )
    SELECT vec_id, cluster_id, vec_id = cluster_id AS kept,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS cluster_size
    FROM labeled
"""


@query(
    "dd13_semantic_keep_list",
    # km1's registered oracle nests verbatim (it is registered earlier
    # in this module), so the driver's verdict covers codebook draw +
    # assignment + in-cell pairing + closure + keep as ONE chain
    None,  # placeholder — rebound below once km1 exists in QUERIES
    eager=True,  # codebook draw + per-round CC collects at construction
)
def dd13_semantic_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup keep-list (SemDeDup, Abbas et al. 2023): k-means
    cells over the embedding corpus cap the pairwise stage, vectors in
    the same cell with cosine >= τ are duplicates, connected components
    pick the lowest-id survivor — dd11's keep-list discipline applied
    to MEANING instead of text bytes (near-identical paraphrases that
    share no 8-gram and no MinHash band collide here).

    τ = 0.40, corpus-calibrated exactly the way the SemDeDup paper
    tunes its epsilon per dataset: the driver's synthetic embeddings
    are near-uniform (max within-cell cosine ≈ 0.49 at sf0.01), so a
    text-style τ of 0.9 would make the entry vacuous — the calibrated
    τ sits in the top ~0.1% of the within-cell similarity distribution
    and yields real merges at every scale factor (19/238 pairs at
    sf0.01/sf0.1; the txt8 lesson: never ship a gate that cannot
    fire).

    Exactness: km1's salted-md5 codebook draw and L2 assignment folds
    are the hash-checked precedent; pair cosine reuses ann1's
    dot/norm folds (norms computed once per side); zero-norm vectors
    are excluded from pairing (cosine undefined) but keep their
    singleton keep-list row. Oracle nests km1's registered SQL
    verbatim and extends it with the dd10-pattern recursive closure.

    Scale shape: the quadratic stage is capped by the CELL, not the
    corpus (SemDeDup's whole point — k scales with corpus size so
    cells stay bounded); the cell join carries (id, cid, vector) only
    for in-cell candidates; CC is the merge-hinted pointer-doubling
    operator; the keep-list columns come from the skew-safe
    keep_list_with_sizes (no cluster-grain window).

    The cell partition is the approximation: τ-pairs split across
    cells are never considered. rf11_semdedup_cell_recall floors that
    capture rate (0.2; measured 0.26-0.38 here — the near-uniform
    corpus is VQ's worst case, per the rf2/rf6 convention; tight
    near-dup clusters approach 1). The production knob is multi-probe
    assignment — pair via each vector's top-2 cells at ~2× pair-stage
    cost — documented here rather than registered as a second entry."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = semantic_cell_pairs(emb, eager_pins=True)
    from ..operators.graph import connected_components

    cc = connected_components(emb.select("vec_id"), pairs, id_col="vec_id")
    return dd.keep_list_with_sizes(cc, id_col="vec_id")


def _tau_pairs(
    withv: DataFrame, tau: float, same_cell: bool, cross_split: bool = False
) -> DataFrame:
    """ONE definition of the τ-pair predicate behind dd13, rf11 and
    dc3: (a_id, b_id) for vector pairs with cosine >= ``tau``,
    zero-norm excluded, optionally restricted to same-cell pairs.
    ``cross_split`` swaps the a<b dedup order for the (train,
    not-train) restriction dc3 needs — ``withv`` then also carries a
    ``split`` column. ``withv`` is (vec_id, embedding, nrm[, cid]
    [, split]). Keeping the predicate in one place is what makes
    rf11's floor meaningful — the gate must measure exactly the pair
    semantics the operator clusters."""
    cols = ["vec_id", "embedding", "nrm"] + (["cid"] if same_cell else [])
    if cross_split:
        cols.append("split")
    a = withv.select(*[F.col(c).alias(f"a_{c}") for c in cols])
    b = withv.select(*[F.col(c).alias(f"b_{c}") for c in cols])
    if cross_split:
        # (train, not-train) pairs: the sides are disjoint splits, so
        # every cross pair appears exactly once and needs no id order
        cond = (F.col("a_split") == "train") & (F.col("b_split") != "train")
    else:
        cond = F.col("a_vec_id") < F.col("b_vec_id")
    if same_cell:
        cond = (F.col("a_cid") == F.col("b_cid")) & cond
    return (
        a.join(b, cond)
        .filter(
            (F.col("a_nrm") > 0)
            & (F.col("b_nrm") > 0)
            & (
                sim.dot(F.col("a_embedding"), F.col("b_embedding"))
                / (F.col("a_nrm") * F.col("b_nrm"))
                >= tau
            )
        )
        .select(
            F.col("a_vec_id").alias("a_id"), F.col("b_vec_id").alias("b_id")
        )
    )


def semantic_cell_pairs(
    emb: DataFrame,
    tau: float = 0.40,
    k: int = 8,
    salt: str = "km1",
    eager_pins: bool = False,
) -> DataFrame:
    """dd13's pair stage: same-cell τ-pairs under :func:`_tau_pairs`'
    shared predicate. Factored out so rf11's cell-recall gate measures
    EXACTLY the pair set dd13 clusters."""
    asg = sim.kmeans_assign(emb, "vec_id", "embedding", k=k, salt=salt)
    withv = (
        asg.select(F.col("id").alias("vec_id"), F.col("cluster_id").alias("cid"))
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .select(
            "vec_id", "cid", "embedding",
            sim.norm(F.col("embedding")).alias("nrm"),
        )
    )
    if eager_pins:
        # both τ-pair join sides (and the CC consumer's edge union)
        # reference withv — checkpoint so the codebook assignment +
        # norm fold run once (optimization r15, dedup.pin_bounded)
        withv = dd.pin_bounded(dd._spread_narrow_input(withv), eager=True)
    return _tau_pairs(withv, tau, same_cell=True)


def semantic_multiprobe_pairs(
    emb: DataFrame,
    tau: float = 0.40,
    k: int = 8,
    salt: str = "km1",
    probes: int = 2,
    eager_pins: bool = False,
) -> DataFrame:
    """dd13's pair stage under MULTI-PROBE assignment (the production
    capture knob rf11's docstring names): each vector belongs to its
    ``probes`` nearest cells, pairs form in ANY shared cell, distinct
    at pair grain (a pair sharing both cells must not double-count).
    Same :func:`_tau_pairs` predicate, so rf12 measures exactly what a
    multi-probe dd13 would cluster. Cost model: membership volume is
    ``probes``× (worst-case ``probes²``× candidate rows per cell
    pair), the price of the recovered boundary pairs."""
    asg = sim.kmeans_assign_multi(
        emb, "vec_id", "embedding", k=k, salt=salt, probes=probes
    )
    withv = (
        asg.select(F.col("id").alias("vec_id"), F.col("cluster_id").alias("cid"))
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .select(
            "vec_id", "cid", "embedding",
            sim.norm(F.col("embedding")).alias("nrm"),
        )
    )
    if eager_pins:
        # both τ-pair join sides (and the CC consumer's edge union)
        # reference withv — checkpoint so the codebook assignment +
        # norm fold run once (optimization r15, dedup.pin_bounded)
        withv = dd.pin_bounded(dd._spread_narrow_input(withv), eager=True)
    return _tau_pairs(withv, tau, same_cell=True).distinct()


def semantic_all_pairs(emb: DataFrame, tau: float = 0.40) -> DataFrame:
    """The quadratic yardstick behind rf11: ALL τ-pairs (no cell
    restriction) under the same :func:`_tau_pairs` predicate. Only run
    at gate scale — this is the n² baseline dd13's cells exist to
    avoid."""
    withv = emb.select(
        "vec_id", "embedding", sim.norm(F.col("embedding")).alias("nrm")
    )
    return _tau_pairs(withv, tau, same_cell=False)


def semantic_cross_split_all_pairs(
    emb: DataFrame, tau: float = 0.40
) -> DataFrame:
    """The quadratic yardstick behind rf13: ALL (train, not-train)
    τ-pairs with NO cell restriction — every semantic contamination
    edge that exists, of which dc3's cell-capped stage finds the
    same-cell subset. Gate scale only (rf11's convention)."""
    withv = emb.select(
        "vec_id", "embedding", sim.norm(F.col("embedding")).alias("nrm")
    )
    withv = sampling.hash_split(withv, key="vec_id")
    return _tau_pairs(withv, tau, same_cell=False, cross_split=True)


def semantic_cross_split_pairs(
    emb: DataFrame, tau: float = 0.40, k: int = 8, salt: str = "km1"
) -> DataFrame:
    """dc3's pair stage: same-cell τ-pairs RESTRICTED to (train,
    not-train) sides under sp1's deterministic hash split — the
    cross-split slice of exactly the pair set dd13 clusters (same
    cells, same :func:`_tau_pairs` predicate, same τ). Returns
    (a_id, b_id) with a_id always the train-side vector."""
    asg = sim.kmeans_assign(emb, "vec_id", "embedding", k=k, salt=salt)
    withv = (
        asg.select(F.col("id").alias("vec_id"), F.col("cluster_id").alias("cid"))
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .select(
            "vec_id", "cid", "embedding",
            sim.norm(F.col("embedding")).alias("nrm"),
        )
    )
    withv = sampling.hash_split(withv, key="vec_id")
    return _tau_pairs(withv, tau, same_cell=True, cross_split=True)


def semantic_cross_split_multiprobe_pairs(
    emb: DataFrame,
    tau: float = 0.40,
    k: int = 8,
    salt: str = "km1",
    probes: int = 2,
    eager_pins: bool = False,
) -> DataFrame:
    """dc3's pair stage at MULTI-PROBE assignment (VERDICT r9 "Next
    round" #2): each vector belongs to its ``probes`` nearest cells
    (operators/similarity.kmeans_assign_multi), (train, not-train)
    τ-pairs form in ANY shared cell, distinct at pair grain (a pair
    sharing both cells must not double-count). Same cells, same
    :func:`_tau_pairs` predicate, same τ as the single-probe
    :func:`semantic_cross_split_pairs` — rf12 measured the 2-probe
    assignment lifting cell capture from 0.26-0.38 to 0.70-0.78, and
    decontamination is recall-first (dc2's argument: a false collision
    holds out one train doc, a missed paraphrase is eval leakage).
    Returns (a_id, b_id) with a_id always the train-side vector."""
    asg = sim.kmeans_assign_multi(
        emb, "vec_id", "embedding", k=k, salt=salt, probes=probes
    )
    withv = (
        asg.select(F.col("id").alias("vec_id"), F.col("cluster_id").alias("cid"))
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .select(
            "vec_id", "cid", "embedding",
            sim.norm(F.col("embedding")).alias("nrm"),
        )
    )
    withv = sampling.hash_split(withv, key="vec_id")
    if eager_pins:
        withv = dd.pin_bounded(dd._spread_narrow_input(withv), eager=True)
    return _tau_pairs(withv, tau, same_cell=True, cross_split=True).distinct()


_DC3_SQL = """
    WITH {km_scored},
    asg AS (
        SELECT vec_id AS id, cid AS cluster_id FROM best WHERE rn <= 2
    ),
    v AS (
        SELECT a.id, a.cluster_id AS cid, e.embedding,
               {norm_e} AS nrm,
               {split} AS split
        FROM asg a JOIN embeddings e ON a.id = e.vec_id
    ),
    xp AS (
        SELECT DISTINCT a.id AS t_id, b.id AS e_id
        FROM v a JOIN v b ON a.cid = b.cid
        WHERE a.split = 'train' AND b.split <> 'train'
          AND a.nrm > 0 AND b.nrm > 0
          AND {dot_ab} / (a.nrm * b.nrm) >= 0.40
    )
    SELECT t_id AS vec_id,
           CAST(COUNT(DISTINCT e_id) AS BIGINT) AS n_eval_matches,
           MIN(e_id) AS first_eval_match
    FROM xp GROUP BY t_id
"""


@query(
    "dc3_semantic_decontaminate",
    None,  # placeholder — rebound below once km1 exists in QUERIES
    eager=True,  # kmeans codebook draw collects at construction
)
def dc3_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC train/eval decontamination (VERDICT r8 "Next round"
    #4) — the third modality of the dc family: dc1 catches exact
    prefixes, dc2 catches lexical near-matches (shared MinHash
    bands), but an eval doc PARAPHRASED in train escapes both. This
    composes dd13's SemDeDup machinery across sp1's split boundary:
    k-means cells cap the pair stage, in-cell cosine >= τ pairs
    restricted to (train, not-train) sides flag the train vectors
    whose meaning leaks from the held-out splits. τ = 0.40 is dd13's
    corpus-calibrated threshold (same predicate, same cells — ONE
    _tau_pairs definition).

    MULTI-PROBE since r10 (VERDICT r9 "Next round" #2): cells are
    each vector's TOP-2 nearest (kmeans_assign_multi), not just the
    argmin — decontamination is recall-first (dc2's argument: a false
    collision holds out one train doc, cheap; a missed paraphrase is
    eval leakage), and the r9-measured numbers said single-probe cells
    caught only 0.278-0.286 of all cross-split τ-pairs (rf13's
    documented before) while the 2-probe assignment reaches 0.70-0.78
    (rf12). The price is 2× membership volume in the pair join —
    rf13's floor is now 0.5 on exactly this plan's pair set.

    Non-vacuity (the txt8 rule, probed before registering; re-probed
    at multi-probe): 6 / 6 / 76 cross-split τ-pairs single-probe, and
    the 2-probe set strictly supersets it at every scale.

    Output mirrors dc2's per-train-doc rollup: (vec_id,
    n_eval_matches, first_eval_match), all-integer → hash-exact.
    Scale shape inherits dd13's: the quadratic stage is capped by the
    CELL (k scales with corpus size), the cross-split restriction
    prunes the pair join's output before the rollup, and the rollup
    is one map-side-combined groupBy. Oracle nests the SAME scored-
    cells CTE chain as km1's registered oracle (_KM_SCORED_SQL — one
    fragment, rn <= 2 instead of rn = 1) and extends it with sp1's
    split fragment + the shared dot/norm folds."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = semantic_cross_split_multiprobe_pairs(emb, eager_pins=True)
    return pairs.groupBy(F.col("a_id").alias("vec_id")).agg(
        F.count_distinct("b_id").alias("n_eval_matches"),
        F.min("b_id").alias("first_eval_match"),
    )


# rebind dd13's and dc3's oracles now that km1 is guaranteed registered
# at import time of this statement (module bottom would also work; here
# keeps the definition adjacent). QUERIES entries are mutable
# dataclasses.
def _bind_dd13_oracle() -> None:
    QUERIES["dd13_semantic_keep_list"].oracle = _DD13_SQL.format(
        km1=QUERIES["km1_kmeans_assign"].oracle,
        norm_e=_NORM_SQL.format(a="e.embedding"),
        dot_ab=_DOT_SQL.format(a="a.embedding", b="b.embedding"),
    )
    QUERIES["dc3_semantic_decontaminate"].oracle = _DC3_SQL.format(
        km_scored=_KM_SCORED_SQL,
        norm_e=_NORM_SQL.format(a="e.embedding"),
        split=sql_hash_split("a.id"),
        dot_ab=_DOT_SQL.format(a="a.embedding", b="b.embedding"),
    )


@query(
    "dd16_banded_pair_eval",
    f"""
    WITH {dd.sql_portable_minhash_pairs("documents")},
    einter AS (
        SELECT x.doc AS a_id, y.doc AS b_id, COUNT(*) AS n_common
        FROM sh x JOIN sh y ON y.s = x.s AND x.doc < y.doc
        WHERE x.s <> ''
        GROUP BY x.doc, y.doc
    ),
    exact AS (
        SELECT i.a_id, i.b_id
        FROM einter i
        JOIN ssz sa ON sa.doc = i.a_id
        JOIN ssz sb ON sb.doc = i.b_id
        WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.2
    ),
    c AS (
        SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT)
                   AS n_exact_pairs,
               CAST((SELECT COUNT(*) FROM cand) AS BIGINT)
                   AS n_band_candidates,
               CAST((SELECT COUNT(*) FROM pairs) AS BIGINT)
                   AS n_verified_pairs
    )
    SELECT n_exact_pairs, n_band_candidates, n_verified_pairs,
           n_exact_pairs - n_verified_pairs AS n_missed_pairs,
           CASE WHEN n_exact_pairs > 0
                THEN CAST(n_verified_pairs AS DOUBLE) / n_exact_pairs
           END AS pair_recall,
           CASE WHEN n_band_candidates > 0
                THEN CAST(n_verified_pairs AS DOUBLE) / n_band_candidates
           END AS verify_precision
    FROM c
    """,
)
def dd16_banded_pair_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup family's eval harness (ii6's discipline applied to
    LSH): one integer row quantifying what the md5-portable banded path
    spends (pre-verify candidate volume) and delivers (verified pairs)
    against the exact Jaccard yardstick from the SAME pinned shingle
    table — recall floors assert a bound, this MEASURES the trade in
    driver-hash-checked counts, the numbers a pipeline tunes
    (num_hashes, bands) against on a sample before a 100 TB run.
    Oracle: the registered banded chain (sh/cand/pairs CTEs) extended
    with the exact-pair CTE and scalar-subquery counts. The quadratic
    exact side puts this on the 8x-sweep skip list with dd2/dd6/dd8;
    operators/dedup.banded_pair_eval documents the plan shape.
    ACTED ON in r9 (VERDICT r8 #3): this instrument's sweep
    (tools/band_tuning.py) moved the production default (8,4)→(16,4) —
    measured at sf0.1: recall 1.0 at verify_precision 1.0 vs the old
    0.31; full table + the borderline trade in SCALE_r09.md."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.banded_pair_eval(
        docs, "doc_id", "text", num_hashes=16, bands=4, n=3, threshold=0.2
    )


@query(
    "dd15_quality_survivor",
    f"""
    WITH RECURSIVE {dd.sql_portable_minhash_pairs("documents")},
    edges AS (
        SELECT a_id AS a, b_id AS b FROM pairs
        UNION ALL
        SELECT b_id AS a, a_id AS b FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    labeled AS (
        SELECT d.doc_id,
               CAST(LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS BIGINT)
                   AS cluster_id
        FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
        GROUP BY d.doc_id
    ),
    q AS ({tx.sql_quality_score("documents")}),
    scored AS (
        SELECT l.doc_id, l.cluster_id, q.quality_score AS qs
        FROM labeled l LEFT JOIN q ON q.doc = l.doc_id
    ),
    best AS (
        SELECT cluster_id, doc_id AS survivor_id FROM (
            SELECT doc_id, cluster_id, row_number() OVER (
                PARTITION BY cluster_id
                ORDER BY (qs IS NOT NULL) DESC,
                         COALESCE(qs, 0.0) DESC, doc_id ASC
            ) AS rn FROM scored
        ) WHERE rn = 1
    ),
    sizes AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM labeled GROUP BY cluster_id
    )
    SELECT s.doc_id, s.cluster_id, b.survivor_id,
           s.doc_id = b.survivor_id AS kept, z.cluster_size
    FROM scored s
    JOIN best b ON b.cluster_id = s.cluster_id
    JOIN sizes z ON z.cluster_id = s.cluster_id
    """,
    eager=True,  # per-round collect/localCheckpoint at construction (CC)
)
def dd15_quality_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd10's banded keep-list with the PRODUCTION survivor policy:
    keep the highest-QUALITY member of each near-dup cluster (txt2's
    score; tie → lowest doc_id) instead of the lowest-id one. When
    near-duplicates differ — truncated copy vs full article — the
    corpus should retain the best copy; lowest-id is an accident of
    crawl order. Same banded pairs, same CC closure as dd10; only the
    survivor rule changes, and `kept` means "is the chosen survivor"
    rather than "id equals cluster label". The quality subquery is the
    SAME builder output as txt2's oracle (textops.sql_quality_score);
    skew discipline in operators/dedup.quality_survivor_keep_list
    (map-side-combined argmax struct, salted attach join, no windows).
    """
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.portable_minhash_pairs(
        docs, "doc_id", "text", threshold=0.2, eager_pins=True
    )
    cc = connected_components(docs.select("doc_id"), pairs)
    quality = tx.quality_score(docs, "doc_id", "text").select(
        F.col("doc").alias("doc_id"), "quality_score"
    )
    return dd.quality_survivor_keep_list(cc, quality)


@query("dd3_minhash_lsh_pairs", None)  # engine-specific hashes → rows-only
def dd3_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32)+LSH(8 bands) candidate pairs with estimated Jaccard.

    The 100 TB dedup path (candidate join keyed on band buckets). Hash
    functions are engine-specific (xxhash64), so no SQL oracle; recall
    against dd2's exact pairs is asserted in tests/test_dedup.py.
    """
    docs = load_table(spark, sf_dir, "documents")
    return dd.minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=32, bands=8, verify_threshold=0.2
    )


@query("dd4_simhash_pairs", None)  # engine-specific hashes → rows-only
def dd4_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup pairs (Hamming <= 12 via 4-band blocking)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.simhash_near_pairs(docs, "doc_id", "text", max_hamming=12)


# ---------------------------------------------------------------------------
# ANN — brute-force cosine top-k (oracle) + LSH variant (rows-only).
# ---------------------------------------------------------------------------

_DOT_SQL = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (x, y) -> x + y)"
)
_NORM_SQL = (
    "sqrt(list_reduce(list_transform({a}, "
    "v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))"
)

_L2_SQL = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)) "
    "* (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))), (x, y) -> x + y)"
)

# ONE k-means scored-cells CTE chain (codebook draw + per-vector cell
# ranking by (d2, cid)) shared by km1's registered oracle (rn = 1, the
# assignment) and dc3's multi-probe oracle (rn <= probes) — the SQL
# twin of operators/similarity._scored_cells being the shared root of
# kmeans_assign and kmeans_assign_multi. A draw/fold change here moves
# every consumer in lockstep.
_KM_SCORED_SQL = """h AS (
        SELECT vec_id, embedding,
               md5('km1:' || CAST(vec_id AS VARCHAR)) AS hh
        FROM embeddings
    ), cent AS (
        SELECT embedding AS c_vec,
               CAST(row_number() OVER (ORDER BY hh) AS INTEGER) - 1 AS cid
        FROM h ORDER BY hh LIMIT 8
    ), scored AS (
        SELECT e.vec_id, c.cid,
               {l2} AS d2
        FROM embeddings e CROSS JOIN cent c
    ), best AS (
        SELECT vec_id, cid, d2, row_number() OVER (
            PARTITION BY vec_id ORDER BY d2 ASC, cid ASC
        ) AS rn
        FROM scored
    )""".format(l2=_L2_SQL.format(a="e.embedding", b="c.c_vec"))


@query(
    "ann1_cosine_topk",
    f"""
    WITH q AS (
        SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
        WHERE vec_id < 10
          AND {_NORM_SQL.format(a='embedding')} > 0
    ), scored AS (
        SELECT q.q_id, e.vec_id AS n_id,
               {_DOT_SQL.format(a='q.q_vec', b='e.embedding')}
                   / ({_NORM_SQL.format(a='q.q_vec')}
                      * {_NORM_SQL.format(a='e.embedding')}) AS cos_sim
        FROM embeddings e JOIN q ON e.vec_id <> q.q_id
        WHERE {_NORM_SQL.format(a='e.embedding')} > 0
    ), ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY cos_sim DESC, n_id ASC
        ) AS rank
        FROM scored
    )
    SELECT q_id, n_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """,
)
def ann1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors (vec_id < 10).

    operators/similarity.cosine_topk: broadcast the query side, fold dot
    products sequentially (deterministic double accumulation — both
    engines fold left-to-right, so values are bit-exact).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.cosine_topk(queries, emb, "vec_id", "embedding", k=5)


@query("ann2_lsh_topk", None)  # hyperplane draws are engine-side → rows-only
def ann2_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN top-5 (12 bands × 4 bits) for vec_id < 10.

    Scale path for ann1 — candidates only from shared sign-bit buckets;
    recall vs brute force asserted in tests/test_similarity.py and
    tracked as a driver-visible number by rf1_lsh_topk_recall.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.lsh_topk(queries, emb, "vec_id", "embedding", k=5)


# ---------------------------------------------------------------------------
# TXT — language ID, quality scoring, token counts, fingerprints.
# ---------------------------------------------------------------------------

_LANG_DIM_SQL = "(VALUES " + ", ".join(
    f"('{lang}', {prio}, '{w}')"
    for lang, prio, words in tx.LANG_STOPWORDS
    for w in words
) + ") ld(lang, prio, word)"


@query(
    "txt1_lang_id",
    f"""
    WITH toks AS (
        SELECT doc_id AS doc, unnest({_WORDS_SQL}) AS word FROM documents
    ), hits AS (
        SELECT doc, lang, prio, COUNT(*) AS hits
        FROM toks JOIN {_LANG_DIM_SQL} ON toks.word = ld.word
        GROUP BY doc, lang, prio
    ), best AS (
        SELECT doc, lang, hits, row_number() OVER (
            PARTITION BY doc ORDER BY hits DESC, prio ASC
        ) AS rn
        FROM hits
    )
    SELECT d.doc_id AS doc,
           COALESCE(b.lang, 'unknown') AS predicted_lang,
           COALESCE(b.hits, 0) AS hits
    FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
      ON b.doc = d.doc_id
    """,
)
def txt1_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by stopword-hit argmax with declared tie priority."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.lang_id(docs, "doc_id", "text")


# ONE construction with textops.sql_quality_score's stoplist (review
# finding: two hand-built copies of the same literal can drift)
_ALL_STOP_SQL = tx.sql_stoplist()


# The full quality query text comes from ONE builder
# (textops.sql_quality_score) shared with dd15's survivor oracle, so a
# formula tweak cannot desynchronize them (same rule as _bm25_sql and
# sql_winnowing_selected).
@query("txt2_quality_score", tx.sql_quality_score("documents"))
def txt2_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quality scoring: length/stopword credits minus punctuation
    and degenerate-word-shape penalties, clamped to 0..100."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.quality_score(docs, "doc_id", "text")


@query("qc1_model_quality_score", tx.sql_linear_quality_score("documents"))
def qc1_model_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL-BASED quality scoring (VERDICT r10 "Next round" #3) — the
    modern curation stage txt2's hand rules don't represent: a linear
    classifier's inference pass over hashed bag-of-words features
    (fastText architecture, Joulin 2016 — the scorer DCLM and
    FineWeb-Edu run corpus-wide), with engine-portable md5-derived
    integer weights standing in for trained parameters (the km1
    seeding precedent). Emits per-doc (n_tokens, margin, keep) with
    keep = margin >= 0 — the alternative drop_quality signal a
    cm1-style cascade can swap in for txt8's rule verdict. All-BIGINT
    sums → hash-exact on any engine and accumulation-order-free.
    Non-vacuity test-pinned (the mx3 precedent): qc1's score ORDER
    disagrees with txt2's on real docs and the keep sets differ both
    ways (tests/test_textops.py). Scale shape: one token explode, two
    codegen md5s per token (never inside a HOF lambda — the r6 rule),
    one map-side-combined groupBy(doc); the shuffle carries (doc,
    int), never text — see operators/textops.linear_quality_score."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.linear_quality_score(docs, "doc_id", "text")


@query("txt14_pii_scrub", tx.sql_pii_scrub("documents"))
def txt14_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide PII scrub (VERDICT r10 "Next round" #4) — the
    redaction pass every real release pipeline runs between curation
    and packing: emails, phone numbers, and @handles replaced by typed
    placeholders, per-doc counts by class + md5 of the scrubbed text.
    Reuses the reference's OWN extraction patterns (email
    analyze_insta_enhanced.py:1631; the phone cascade :1687-1693
    unioned; the mention regex :604-605) — X1 extracts them, this
    REDACTS them corpus-wide. VACUITY DISCLOSURE (the txt8 rule): the
    driver's synthetic corpus contains zero PII, so the driver verdict
    proves the no-op path (per-doc md5 equality) only; the redaction
    semantics are pinned on a constructed fixture with known
    placements, compared across THREE engines (Spark, the DuckDB twin,
    a Python-re recompute) in tests/test_textops.py — including the
    email-before-handle scrub-order guard. Plan shape: pure per-row
    projection, zero shuffles — operators/textops.pii_scrub."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.pii_scrub(docs, "doc_id", "text")


@query(
    "txt3_token_counts",
    f"""
    SELECT doc_id AS doc,
           len({_WORDS_SQL}) AS ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
               AS bpe_tokens
    FROM documents
    """,
)
def txt3_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting (corpus sizing)."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.token_counts(docs, "doc_id", "text")


@query("tok1_subword_token_count", tx.sql_subword_token_counts("documents"))
def tok1_subword_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER-GRAIN token counts (VERDICT r11 #2 — the one
    load-bearing LLM-pipeline quantity the catalog still approximated
    with regex word counts): a deterministic BPE APPLY over the fixed
    ordered merge table operators/textops.BPE_MERGES — characters
    merged rule-by-rule with leftmost-first non-overlapping passes —
    emitting (doc, n_words, n_subword_tokens). The merge table is a
    LITERAL (a trained tokenizer ships its merges as data — the
    km1/qc1 portable-parameter precedent; NOTE the r13 correction:
    swapping in a real top-K list holds only to K≈300, where the
    nested cascade starts blowing the driver stack — a 50k-rule vocab
    runs at tok3's vocab grain via the measured chunked-barrier or
    vocab-UDF fallback, SCALE_r13 §5), and the two-space symbol-string
    encoding makes every merge a literal string replace with identical
    semantics in Spark, DuckDB, and Python — hash-exact cross-engine
    and pinned against a pure-Python recompute (the txt11 convention;
    tests/test_textops.py). Non-vacuity pinned there too: subword
    counts differ from txt3's ws/bpe regex counts on 400+ docs at
    sf0.01, and the merges demonstrably fire (count < character
    count).

    Plan shape (qc1's): one token explode -> ~21 codegen string ops
    per token (never in a HOF lambda, the r6 rule) -> one
    map-side-combined groupBy(doc); the shuffle carries (doc, int)
    rows, never text. All-BIGINT output."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.subword_token_counts(docs, "doc_id", "text")


@query("tok3_memoized_token_count", tx.sql_subword_token_counts("documents"))
def tok3_memoized_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tok1's 100 TB execution shape, registered (the sk1/sk2
    convention — the oracle is tok1's own SQL, so the driver asserts
    RESULT IDENTITY and the entry's value is the plan): tokenize the
    DISTINCT vocabulary once, broadcast the per-word counts back onto
    the token stream, aggregate per doc. Zipf makes this ~1/TTR-th of
    tok1's string work (type-token ratio ~0.01-0.1 on natural text);
    the broadcast join also sidesteps hot-word skew entirely — 'the'
    never shuffles anywhere (operators/textops.
    memoized_subword_token_counts; BroadcastHashJoin + merge-cascade-
    on-the-vocab-side plan shape asserted in tests/test_textops.py).
    ONE per-word expression (subword_count_col) is shared with tok1,
    so the two paths cannot drift."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.memoized_subword_token_counts(docs, "doc_id", "text")


@query(
    "tok4_real_vocab_token_count",
    tx.sql_chunked_subword_token_counts(dims.BPE_MERGES_500),
)
def tok4_real_vocab_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL-SCALE merge table, running (the r13 knee finding made
    an operator): tok1's cascade holds to ~K=300 rules — the nested
    Column tree blows the JVM driver stack nondeterministically, and
    DuckDB's parser dies at the same depth ('memory exhausted'), both
    measured in SCALE_r13 §5 — so a real tokenizer's table (50k rules)
    can never ride a single expression in EITHER engine. This entry
    runs dims.BPE_MERGES_500 (500 ordered merges learned by the
    standard greedy BPE trainer from the deterministic 100k-type
    syllable Zipf recipe in tools/tok_knee_probe.py — corpus grown
    20k→100k in r15 so ONE trajectory reaches tok6's 50k rules;
    table regenerated, pin + rotation updated per the pin contract)
    through the
    measured fallback plan: the chunked-barrier cascade at VOCAB
    grain — 100 merges per projection, a localCheckpoint barrier per
    chunk (stops CollapseProject re-nesting the K-deep tree;
    intermediates are vocab-sized, never corpus rows), per-word
    counts broadcast back exactly like tok3. The oracle states the
    same ordered application as ONE recursive CTE over a merge VALUES
    table (depth = |table| over vocab rows — no deep expression, so
    the parser knee never applies; tok4_-prefixed CTE names per the
    SCALE_r10 §7 shadowing rule).

    Same two-space encoding + literal-replace semantics as tok1 (ONE
    counting contract, three engines), so the result is hash-exact
    and pinned against a pure-Python recompute
    (chunked_subword_tokenize_py, tests/test_textops.py).
    Non-vacuity: counts differ from tok1's 20-rule counts on 500/500
    gate docs (different learned vocabulary; re-probed at the r15
    regeneration — 15/31 driver vocab types differ from tok1's), and
    the table's deep rules demonstrably fire (K=100→500 changes 8/31
    driver-vocab types — re-measured at regeneration).

    NOT a bench line: at the driver corpus's 31-type vocabulary the
    line would price five fixed localCheckpoint barriers (~10s) and
    nothing else; the shape was priced on the 20k-vocab probe corpus
    instead (flat 2.3–5.7s through K=2000, tools/tok_knee_probe.py —
    SCALE_r13 §5's table, the honest-pricing convention)."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.chunked_subword_token_counts(
        docs, "doc_id", "text", dims.BPE_MERGES_500
    )


@query(
    "tok5_vocab_udf_token_count",
    tx.sql_chunked_subword_token_counts(
        dims_bpe.BPE_MERGES_2000, prefix="tok5_"
    ),
)
def tok5_vocab_udf_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 50k-SCALE tokenizer representative, registered (VERDICT r13
    "Next round" #3 — tok4 proves the chunked-barrier shape at K=500;
    this entry registers the measured PRODUCTION answer for a real
    50k-rule vocabulary): a 2000-rule learned merge table
    (dims_bpe.BPE_MERGES_2000 — the SAME trainer trajectory as tok4's
    table, prefix-closure asserted at import; regenerate via
    tools/gen_bpe_merges.py) applied by an Arrow-batched pandas UDF
    over the DISTINCT vocabulary only (operators/textops.
    udf_subword_token_counts — SCALE_r13 §5's fallback B, measured
    flat 1.4–3.5s through K=2000 where the chunked-barrier path pays
    K/chunk sequential vocab passes). The corpus side never leaves the
    JVM: the UDF touches ~|vocab| rows, per-word counts broadcast back
    exactly like tok3/tok4, hot words never shuffle.

    The per-word UDF body IS the pure-Python recompute
    (chunked_subword_tokenize_py), and the semantics are tok1/tok4's
    two-space-encoded ordered literal replaces — ONE counting contract
    — so despite being a declared Python surface (the package's
    fourth: pyround, mm2 decode, st5 sessionizer) the entry is fully
    HASH-CHECKED against the recursive-CTE oracle at K=2000 (tok5_-
    prefixed CTE names; recursion depth 2000 over vocab-sized rows
    measured 0.73s single-threaded at the sf0.01 gate — SCALE_r14 §2).

    Non-vacuity (probed BEFORE registration, SCALE_r14 §2; re-probed
    at the r15 table regeneration): 16 of the driver corpus's 31
    vocabulary types change their subword counts between the K=500
    and K=2000 tables (15/31 under the r15-regenerated 100k-corpus
    trajectory), so this entry's results genuinely differ from
    tok4's — rules 501–2000 fire at the gate.

    NOT a bench line (tok4's precedent): at the driver corpus's
    31-type vocabulary the line would price one 31-row Arrow batch and
    nothing else; the shape is priced on the 20k-vocab probe corpus
    (SCALE_r13 §5's table, the honest-pricing convention)."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.udf_subword_token_counts(
        docs, "doc_id", "text", dims_bpe.BPE_MERGES_2000
    )


@query(
    "tok6_full_vocab_token_count",
    tx.sql_chunked_subword_token_counts(
        dims_bpe50k.BPE_MERGES_50000, prefix="tok6_"
    ),
)
def tok6_full_vocab_token_count(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The FULL 50000-rule learned vocabulary, registered (VERDICT r14
    "Next round" #3 closes the tokenizer arc: tok4 proved the
    chunked-barrier shape at K=500, tok5 registered the production
    shape at K=2000, this entry runs a REAL tokenizer's table size —
    GPT-2's BPE ships 50k merges). dims_bpe50k.BPE_MERGES_50000 is the
    SAME trainer trajectory as tok4/tok5's tables (the generator
    corpus grew 20k→100k types in r15 so one run reaches 50k rules
    before pair exhaustion; prefix-closure over both smaller tables
    asserted at import; the table ships as an md5-pinned text
    resource, not a ~12.5k-line literal — SCALE_r15 adjudicates the
    trade VERDICT r14 asked about), applied through tok5's registered
    production shape: Arrow-batched pandas UDF over the DISTINCT
    vocabulary, broadcast join-back, corpus rows never leave the JVM.

    Fully HASH-CHECKED against the depth-50000 recursive-CTE oracle —
    the feasibility SCALE_r14 §7 measured (DuckDB recursion linear in
    depth, ~70s single-threaded at the gate; the regime, not the
    seconds, is the signal — the CLAUDE.md dq5 rule) — with tok6_-
    prefixed CTE names per the SCALE_r10 §7 shadowing rule. The
    per-word UDF body IS the pure-Python recompute, so the identity
    argument is tok5's.

    Non-vacuity (probed BEFORE registration, SCALE_r15): rules past
    2000 fire on the driver vocabulary — 'stream' re-tokenizes at rule
    2109 and 'customer' at rule 11655 (both ~top-frequency types, so
    nearly every gate doc's count differs from tok5's); a table
    truncated anywhere below rule 11655 is driver-detectable, and the
    md5 pin + prefix-closure chain covers the undistinguishable tail
    (the same epistemic split tok5's registration disclosed).

    100 TB story: the O(K)-per-word ordered-replace UDF body is the
    honest cost at K=50k (0.25s for the 31-type gate vocabulary,
    measured; 23–33s for a 20k-type vocabulary); the production
    tokenizer's rank-priority apply — K-independent per word — is
    IMPLEMENTED as ``apply="ranked"`` on the same operator (296× the
    ordered body over the full probe vocabulary; equivalence a
    guard-enforced table property — SCALE_r15 §7), with plan shape,
    distribution grain, and counting contract unchanged. THIS entry
    stays on the ordered body: it is literally the recompute
    function, the identity argument the hash verdict rides on.

    NOT a bench line (tok4/tok5's honest-pricing precedent): at the
    driver corpus's 31-type vocabulary the line would price one
    31-row Arrow batch."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.udf_subword_token_counts(
        docs, "doc_id", "text", dims_bpe50k.BPE_MERGES_50000
    )


@query(
    "trn1_bpe_train",
    tx.sql_bpe_train_merges(48),
    eager=True,  # per-iteration argmax collects (km2's convention)
)
def trn1_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED BPE TRAINING, registered (VERDICT r14 #2 — the last
    'generated offline' family: every merge table feeding
    tok1/tok3/tok4/tok5 came from tools/gen_bpe_merges.py, a
    single-process driver-side Python trainer, the exact execution
    model this repo exists to replace). 48 greedy iterations over the
    documents corpus: corpus-wide adjacent-pair groupBy-sum → one-row
    argmax collect with the trainer's exact tie-break (max count, then
    max (a, b) — ORDER BY cnt DESC, a DESC, b DESC) → literal-replace
    re-merge at VOCAB grain (operators/textops.bpe_train_merges; the
    corpus is touched ONCE to build the frequency-weighted vocabulary,
    then every iteration is vocab-grain — tok3/tok4/tok5's grain
    argument). Output is the ORDERED learned merge table (i, a, b):
    tok5's input contract, so training and apply compose end-to-end
    in-engine.

    Oracle: the loop UNROLLED as 48 MATERIALIZED (argmax, re-merge)
    CTE pairs (sql_bpe_train_merges — the km2 fixed-iteration
    precedent; every state CTE is referenced twice, the CLAUDE.md
    multi-reference rule, and materialization is what prevents the
    exponential re-evaluation cascade). Trajectory additionally pinned
    BIT-IDENTICAL to the pure-Python trainer (tok_knee_probe.
    learn_merges — the function that generated the shipped dims
    tables) on the same corpus in tests/test_textops.py, so the
    registered entry proves the cluster trainer reproduces the
    generator's trajectory.

    Non-vacuity (probed BEFORE registration, SCALE_r15): 29 of the 48
    gate iterations have COUNT TIES among top pairs, and flipping the
    tie-break to min diverges at rule 8 — the hash verdict genuinely
    pins the argmax semantics, not just the pair counting. Exhaustion
    (pairs run out before k) verified identical both sides at K=120:
    both engines stop at the corpus's 89 learnable merges.

    NOT a bench line (tok5's honest-pricing precedent): at the gate's
    31-type vocabulary the line would price 48 × ~0.15s of local job
    overhead, not the algorithm; the corpus-pass + vocab-grain shape
    is the priced story and it is tok3/tok4/tok5's."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.bpe_train_merges(docs, "text", 48)


@query(
    "trn2_incremental_bpe_train",
    tx.sql_bpe_train_merges(64, prefix="trn2_"),
    eager=True,  # per-iteration argmax collects (trn1's convention)
)
def trn2_incremental_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL distributed BPE training (the production trainer
    shape trn1's honest-cost note documented without implementing —
    Sennrich's subword-nmt optimization, learn_merges_fast's exact
    algorithm as DataFrame state): the global pair-count table is
    MAINTAINED across iterations — argmax over the standing counts,
    then a frequency-weighted pair-count DELTA computed from only the
    words CONTAINING the winning pair — instead of trn1's full-vocab
    re-count every round (operators/textops.
    bpe_train_merges_incremental). Same one-corpus-pass vocabulary,
    same two-space encoding, same literal leftmost-first re-merge,
    same argmax tie-break (cnt DESC, a DESC, b DESC) — so the learned
    trajectory is bit-identical to trn1's and to both pure-Python
    trainers (pinned past pair exhaustion in tests/test_textops.py).

    Registered at K=64 (trn1 is K=48, the corpus exhausts at 89):
    the driver hash additionally pins rules 49-64 — never covered by
    trn1's verdict — through the INCREMENTAL state arithmetic.
    Non-vacuity (probed BEFORE registration): 39 of the 64 gate
    iterations have count ties, 10 of them in the 49-64 extension,
    and flipping the tie-break diverges at rule 8 — the verdict pins
    the delta maintenance AND the argmax semantics, not just pair
    counting.

    Oracle: the SAME unrolled MATERIALIZED CTE trainer as trn1
    (sql_bpe_train_merges at K=64, trn2_-prefixed CTE names per the
    SCALE_r10 §7 shadowing rule) — the oracle recomputes every
    iteration from scratch, so the hash check is exactly the
    incremental-vs-recompute equivalence, per rule.

    100 TB story: per-iteration work drops from O(all vocab pairs) to
    O(affected pairs + |pc|) — on Zipfian text the winning pair's
    support decays with rank, so the per-merge cost SHRINKS along the
    trajectory instead of staying flat (26x measured driver-side at
    K=2000, tok_knee_probe; the Spark twin's per-iteration delta is
    the same arithmetic). The pair-count state re-materializes at
    PAIR grain per iteration (the cdc1 keyed-state-in-batch idiom);
    lazy localCheckpoints bound every argmax to ONE delta stage.

    NOT a bench line (trn1's honest-pricing precedent: at the gate's
    31-type vocabulary the line would price 64 x ~0.3s of local job
    overhead, not the algorithm)."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.bpe_train_merges_incremental(docs, "text", 64)


@query(
    "txt4_content_fingerprint",
    f"""
    SELECT doc_id AS doc,
           md5(array_to_string(list_sort(list_distinct({_WORDS_SQL})), ' '))
               AS fingerprint
    FROM documents
    """,
)
def txt4_content_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words md5 fingerprint (order-insensitive content identity)."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.content_fingerprint(docs, "doc_id", "text")


@query(
    "txt5_rolling_fingerprint",
    f"""
    SELECT doc_id AS doc,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform({_WORDS_SQL},
                       w -> CAST('0x' || substring(md5(w), 1, 15) AS BIGINT)
                            % 1000000007)),
               (acc, x) -> (acc * 131 + x) % 1000000007
           ) AS rolling_fingerprint
    FROM documents
    """,
)
def txt5_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial rolling-hash fingerprint. The per-word
    hash is an md5 prefix, so DuckDB folds the identical polynomial —
    bit-exact oracle (upgraded from the xxhash64 rows-only variant)."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.rolling_hash_fingerprint(docs, "doc_id", "text")


# winnowing parameters: k-gram size and window width (see
# operators/textops.winnowing_fingerprints for the guarantee they buy).
# The whole base→sel CTE chain comes from ONE builder
# (textops.sql_winnowing_selected) shared with dd14's pair oracle, so a
# k/w change cannot desync the two — and the k-gram lead chain inside
# it derives from k like the Spark side's range(1, k) (review finding:
# a hardcoded 3-lead chain would keep hashing 4-grams under filters
# generated for a new k).
@query(
    "txt13_source_vocab_overlap",
    f"""
    WITH tok AS (
        SELECT DISTINCT source, unnest({_WORDS_SQL}) AS token
        FROM documents
    ),
    vs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM tok
           GROUP BY source),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS n_inter
        FROM tok a JOIN tok b ON a.token = b.token AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT i.src_a, i.src_b, va.n AS n_vocab_a, vb.n AS n_vocab_b,
           i.n_inter,
           va.n + vb.n - i.n_inter AS n_union,
           CAST(i.n_inter AS DOUBLE) / (va.n + vb.n - i.n_inter)
               AS vocab_jaccard
    FROM inter i
    JOIN vs va ON va.source = i.src_a
    JOIN vs vb ON vb.source = i.src_b
    """,
)
def txt13_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SOURCE-SIMILARITY matrix a mixture designer reads before
    setting weights (mx1/mx2/mx3's upstream question: which sources
    are near-duplicates of each other at the DOMAIN level?): one row
    per source pair with vocabulary sizes, intersection, union, and
    vocabulary Jaccard. Data2vec/DoReMi-style mixing decisions and
    source-level dedup ("these two crawls are the same site") both
    start from exactly this table. All counts BIGINT; the jaccard is
    ONE division of two exact integers (IEEE-exact and identical
    cross-engine — no accumulation-order hazard, the functions/exact
    rule).

    Scale shape: ONE token explode → distinct (source, token) — the
    shuffle carries vocabulary-sized rows, never documents; the
    intersection self-join fans out per token by the number of
    sources containing it (bounded by |sources|, NOT corpus size —
    20 here, a few thousand at worst in a real pipeline, so the
    hot-token key is source-count-bounded by construction); the pair
    rollup is map-side combined into |sources|² metadata rows. At
    100 TB the distinct-vocab table is the only corpus-proportional
    stage and it is a single hash aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    # no empty-token filter: normalized_words / sql_words already
    # exclude '' by the canonical tokenizer's contract (review finding
    # — a duplicate filter here was symmetric dead code)
    tok = docs.select(
        "source",
        F.explode(tx.normalized_words(F.col("text"))).alias("token"),
    ).distinct()
    vs = tok.groupBy("source").agg(F.count("*").cast("bigint").alias("n"))
    a = tok.select(F.col("source").alias("src_a"), "token")
    b = tok.select(F.col("source").alias("src_b"), "token")
    inter = (
        a.join(b, ["token"])
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("bigint").alias("n_inter"))
    )
    va = vs.select(F.col("source").alias("src_a"), F.col("n").alias("n_vocab_a"))
    vb = vs.select(F.col("source").alias("src_b"), F.col("n").alias("n_vocab_b"))
    union = F.col("n_vocab_a") + F.col("n_vocab_b") - F.col("n_inter")
    return (
        inter.join(va, "src_a")
        .join(vb, "src_b")
        .select(
            "src_a", "src_b", "n_vocab_a", "n_vocab_b", "n_inter",
            union.alias("n_union"),
            (F.col("n_inter").cast("double") / union).alias("vocab_jaccard"),
        )
    )


_WIN_K = 4
_WIN_W = 5
_WIN_SEL_SQL = tx.sql_winnowing_selected(
    "documents", "doc_id", "text", k=_WIN_K, w=_WIN_W
)


@query(
    "txt11_winnowing_fingerprint",
    f"""
    WITH {_WIN_SEL_SQL},
    agg AS (
        SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_fps,
               md5(string_agg(fp, '|' ORDER BY fp)) AS fp_digest
        FROM sel GROUP BY doc
    )
    SELECT b.doc,
           CAST(GREATEST(b.nw - {_WIN_K - 1}, 0) AS BIGINT) AS n_grams,
           CAST(GREATEST(b.nw - {_WIN_K - 1} - {_WIN_W - 1}, 0) AS BIGINT)
               AS n_windows,
           COALESCE(a.n_fps, 0) AS n_fps,
           a.fp_digest
    FROM base b LEFT JOIN agg a ON b.doc = a.doc
    """,
)
def txt11_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003)
    per document: window-min selection over k-gram hashes with the
    substring-detection guarantee (any shared run of >= w + k - 1
    words contributes a common fingerprint at ~2/(w+1) density) —
    the copy-detection complement to txt4's bag-of-words identity and
    the full-shingle MinHash of the dd family. Selection is by VALUE,
    so the fingerprint set is engine-portable and the digest
    hash-checks bit-exact. Plan shape + the per-doc frame argument:
    operators/textops.winnowing_fingerprints."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.winnowing_fingerprints(
        docs, "doc_id", "text", k=_WIN_K, w=_WIN_W
    )


# dd14 thresholds: report pairs sharing >= 2 selected fingerprints (one
# shared fingerprint at k=4/w=5 can be a single common 8-word run —
# real, but below reporting interest; the sf0.01 corpus has ~100
# one-fp pairs vs ~dozens of multi-fp near-dups). The stop-fingerprint
# cap exists for boilerplate at scale; 1000 never fires on the
# synthetic corpus (max fp df is 3 at sf0.01) — its behavior is pinned
# by a constructed-corpus unit test instead (txt8-vacuity rule:
# assert the mechanism where the data can reach it).
_WIN_MIN_SHARED = 2
_WIN_MAX_FP_DF = 1000


@query(
    "dd14_winnowing_pairs",
    f"""
    WITH {_WIN_SEL_SQL},
    totals AS (
        SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_fps FROM sel GROUP BY doc
    ),
    fpdf AS (
        SELECT fp, COUNT(*) AS fp_df FROM sel GROUP BY fp
    ),
    kept AS (
        SELECT s.doc, s.fp
        FROM sel s JOIN fpdf f ON s.fp = f.fp
        WHERE f.fp_df <= {_WIN_MAX_FP_DF}
    ),
    shared AS (
        SELECT a.doc AS a_id, b.doc AS b_id,
               CAST(COUNT(*) AS BIGINT) AS shared_fps
        FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc < b.doc
        GROUP BY a.doc, b.doc
        HAVING COUNT(*) >= {_WIN_MIN_SHARED}
    )
    SELECT s.a_id, s.b_id, s.shared_fps,
           ta.n_fps AS n_fps_a, tb.n_fps AS n_fps_b,
           s.shared_fps / LEAST(ta.n_fps, tb.n_fps) AS containment
    FROM shared s
    JOIN totals ta ON ta.doc = s.a_id
    JOIN totals tb ON tb.doc = s.b_id
    """,
)
def dd14_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS candidate copy pairs: documents sharing >= 2 winnowing
    fingerprints, with substring-CONTAINMENT accounting
    (shared / min(n_fps)) rather than Jaccard — the copy-detection
    complement to dd2's whole-document similarity, joining on txt11's
    ~2/(w+1)-density selected set instead of all shingles. Inherits
    winnowing's guarantee (a shared >= w+k-1-word run always collides)
    and MOSS's stop-fingerprint cap as the scale lever;
    operators/textops.winnowing_pairs documents the plan shape. The
    sel CTE in the oracle is the SAME builder output as txt11's."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.winnowing_pairs(
        docs,
        "doc_id",
        "text",
        k=_WIN_K,
        w=_WIN_W,
        min_shared=_WIN_MIN_SHARED,
        max_fp_df=_WIN_MAX_FP_DF,
    )


# ---------------------------------------------------------------------------
# MM — multimodal binary columns: metadata JVM-side, decode via
# mapInPandas (stubbed; see operators/multimodal.py).
# ---------------------------------------------------------------------------


@query(
    "mm1_binary_metadata",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_digest,
           CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT) AS n_chunks
    FROM documents
    """,
)
def mm1_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary metadata: byte length, content digest, chunk count.

    The text column stands in for a media payload (no binary columns in
    the testdata); operators/multimodal.with_media_columns provides the
    same struct for real payloads, and the decode path is exercised in
    tests/test_multimodal.py.
    """
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.length(payload).cast("bigint").alias("n_bytes"),
        F.md5(payload).alias("content_digest"),
        F.ceil(F.length(payload) / F.lit(256.0)).cast("bigint").alias("n_chunks"),
    )


@query(
    "dd5_embedding_neardup",
    f"""
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
               / ({_NORM_SQL.format(a='a.embedding')}
                  * {_NORM_SQL.format(a='b.embedding')}) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_NORM_SQL.format(a='a.embedding')} > 0
      AND {_NORM_SQL.format(a='b.embedding')} > 0
      AND {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
               / ({_NORM_SQL.format(a='a.embedding')}
                  * {_NORM_SQL.format(a='b.embedding')}) >= 0.5
    """,
)
def dd5_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.5) — the
    semantic-dedup baseline, exact and oracle-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.embedding_neardup_pairs(emb, "vec_id", "embedding", threshold=0.5)


@query(
    "ann3_ivf_topk",
    f"""
    WITH h AS (
        SELECT vec_id, embedding,
               md5('ann3:' || CAST(vec_id AS VARCHAR)) AS hh
        FROM embeddings
    ), cent AS (
        SELECT embedding AS c_vec,
               CAST(row_number() OVER (ORDER BY hh) AS INTEGER) - 1 AS cell
        FROM h ORDER BY hh LIMIT 16
    ), base AS (
        SELECT vec_id, embedding, {_NORM_SQL.format(a='embedding')} AS nrm
        FROM embeddings
        WHERE {_NORM_SQL.format(a='embedding')} > 0
    ), dots AS (
        SELECT b.vec_id, b.embedding, b.nrm, c.cell,
               {_DOT_SQL.format(a='b.embedding', b='c.c_vec')} AS dot
        FROM base b CROSS JOIN cent c
    ), ranked_cells AS (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY dot DESC, cell ASC
        ) AS cr
        FROM dots
    ), corp AS (
        SELECT vec_id AS n_id, embedding AS n_vec, nrm AS n_norm, cell
        FROM ranked_cells WHERE cr = 1
    ), probes AS (
        SELECT vec_id AS q_id, embedding AS q_vec, nrm AS q_norm, cell
        FROM ranked_cells WHERE vec_id < 10 AND cr <= 4
    ), scored AS (
        SELECT p.q_id, c.n_id,
               {_DOT_SQL.format(a='p.q_vec', b='c.n_vec')}
                   / (p.q_norm * c.n_norm) AS cos_sim
        FROM probes p JOIN corp c
          ON p.cell = c.cell AND c.n_id <> p.q_id
    ), ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY cos_sim DESC, n_id ASC
        ) AS rank
        FROM scored
    )
    SELECT q_id, n_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """,
    eager=True,  # codebook/centroid draw collects at construction
)
def ann3_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN top-5 (16 cells, 4 probes) for vec_id < 10; recall
    vs brute force asserted in tests/test_similarity.py and floored by
    rf2. HASH-EXACT since r6: the centroid draw is the km1-style
    salted-md5 order (engine-portable), so the oracle reproduces the
    codebook, the max-dot cell assignment (ties → lower cell), the
    4-probe candidate join, and the sequential-fold cosine re-rank
    bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.ivf_topk(queries, emb, "vec_id", "embedding", k=5)


@query(
    "sq1_int8_quantize",
    """
    WITH scaled AS (
        SELECT vec_id,
               list_max(list_transform(embedding,
                   e -> abs(CAST(e AS DOUBLE)))) AS s,
               embedding
        FROM embeddings
    ), pos AS (
        SELECT vec_id, s,
               unnest(list_transform(embedding, e -> CAST(e AS DOUBLE))) AS e,
               unnest(generate_series(1, len(embedding))) AS i
        FROM scaled
    )
    SELECT vec_id, CAST(i AS INT) AS i,
           CASE WHEN s > 0 THEN CAST(e * 127 / s AS INTEGER) ELSE 0 END AS q,
           s AS scale
    FROM pos
    """,
)
def sq1_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column
    (per-vector scale = max |e|, q = rint(e*127/scale)) — the 4x
    compression step before an ANN index ships to disk at 100 TB.

    Pure array expressions (transform/array_max/posexplode), no UDF, no
    shuffle. Exploded (vec_id, i, q, scale) output keeps every column
    scalar so the driver's hash covers each quantized component;
    Spark ``rint`` + int cast pairs with DuckDB's round-half-even
    double->INTEGER cast (the functions/exact.py lsum precedent).
    Zero vectors quantize to all-zero (guarded: ANSI mode would throw
    on the 0/0)."""
    emb = load_table(spark, sf_dir, "embeddings")
    e_double = F.transform(F.col("embedding"), lambda e: e.cast("double"))
    scaled = emb.select(
        "vec_id",
        F.array_max(F.transform(e_double, F.abs)).alias("s"),
        e_double.alias("ed"),
    )
    exploded = scaled.select(
        "vec_id", "s", F.posexplode("ed").alias("pos", "e")
    )
    return exploded.select(
        "vec_id",
        (F.col("pos") + 1).cast("int").alias("i"),
        F.when(
            F.col("s") > 0, F.rint(F.col("e") * 127 / F.col("s")).cast("int")
        )
        .otherwise(0)
        .alias("q"),
        F.col("s").alias("scale"),
    )


@query(
    "a15_length_percentiles",
    """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           quantile_cont(n_chars, 0.5) AS p50,
           quantile_cont(n_chars, 0.9) AS p90,
           quantile_cont(n_chars, 0.99) AS p99
    FROM documents
    GROUP BY source
    """,
)
def a15_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated length percentiles per source — corpus
    distribution stats (sequence-length budgeting, outlier cutoffs).
    Spark ``percentile`` and DuckDB ``quantile_cont`` share the
    interpolation formula bit-for-bit (verified, no FLOAT-FUZZY). Exact
    percentiles sort within each group — the right contract at the
    report grain; at the per-document 100 TB grain the approximate twin
    is ``percentile_approx`` (engine-specific sketch, so no oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.percentile("n_chars", F.lit(0.5)).alias("p50"),
        F.percentile("n_chars", F.lit(0.9)).alias("p90"),
        F.percentile("n_chars", F.lit(0.99)).alias("p99"),
    )


@query(
    "txt6_vocab_top50",
    f"""
    WITH tok AS (
        SELECT doc_id, unnest({_WORDS_SQL}) AS token FROM documents
    ), stats AS (
        SELECT token,
               COUNT(DISTINCT doc_id) AS doc_freq,
               COUNT(*) AS n_occurrences
        FROM tok GROUP BY token
    )
    SELECT token, doc_freq, n_occurrences
    FROM stats
    ORDER BY doc_freq DESC, token ASC
    LIMIT 50
    """,
)
def txt6_vocab_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-50 tokens by document frequency (ties
    broken by token — deterministic total order), with raw occurrence
    counts. Token explode → one (token)-grain aggregation (partial
    map-side combine keeps the shuffle at distinct-token width, not
    corpus width) → global top-k. The vocab/stopword-discovery pass
    every text pipeline runs before filtering."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(tx.normalized_words(F.col("text"))).alias("token"),
    )
    stats = toks.groupBy("token").agg(
        F.count_distinct("doc_id").alias("doc_freq"),
        F.count("*").alias("n_occurrences"),
    )
    return stats.orderBy(
        F.col("doc_freq").desc(), F.col("token").asc()
    ).limit(50)


@query(
    "ro3_multigrain_rollup",
    """
    SELECT COALESCE(event_type, '__all__') AS event_type,
           COALESCE(CAST(day AS VARCHAR), '__all__') AS day,
           gid, n_events, n_users, sum_value
    FROM (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(GROUPING(event_type, CAST(ts AS DATE)) AS BIGINT)
                   AS gid,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_value
        FROM events
        GROUP BY CUBE (event_type, CAST(ts AS DATE))
    )
    """,
)
def ro3_multigrain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS rollup — the multi-grain OLAP pass the catalog
    lacked: ONE scan of events produces the (event_type, day),
    (event_type), (day), and grand-total grains simultaneously via
    CUBE, each row tagged with the grouping_id bitmask (bit = that
    column is aggregated away; Spark's grouping_id() and DuckDB's
    GROUPING(a, b) use the same encoding — verified, not assumed).
    This is how a reporting layer materializes a pyramid of rollups
    without re-scanning per grain — at 100 TB, 4 grains for ~2× the
    rows through the agg exchange (the Expand), not 4 scans.

    Metrics per grain: row count, exact distinct users, and the
    order-independent exact-decimal value sum (functions/exact.dsum —
    a raw double SUM would be accumulation-order-dependent and
    hash-diverge; the 2-dp money-like column is rule 1's raw-cast
    case). Plan note: Expand(4 grains) ×2 for the single distinct-agg
    rewrite — the standard shape; the CLAUDE.md Expand hazard is
    about SKETCH aggs mixed into multi-column exact distincts, which
    this deliberately avoids (ONE exact distinct, JVM-side)."""
    from ..functions.exact import dsum

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.to_date("ts").alias("day"),
        "user_id",
        "value",
    )
    # aggregated-away keys surface as the explicit '__all__' marker
    # (string-typed on both engines): NULL group keys stringify
    # differently across engines ('None' vs 'NaT'), and the marker is
    # what a reporting consumer wants anyway (gid disambiguates a real
    # NULL key from an aggregated one).
    return (
        base.cube("event_type", "day")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count("*").cast("bigint").alias("n_events"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("__all__")).alias(
                "event_type"
            ),
            F.coalesce(F.col("day").cast("string"), F.lit("__all__")).alias(
                "day"
            ),
            "gid", "n_events", "n_users", "sum_value",
        )
    )


@query("ro2_sketch_rollup", None)  # Datasketches HLL — engine-specific
def ro2_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: per-source HLL sketches of doc ids,
    UNIONED into the global estimate — never re-scanning raw data. The
    sketch (not the count) is the partial, which is what makes
    approximate-distinct rollup-able across partitions/days/tiers at
    100 TB; exact-vs-estimate accuracy is asserted in
    tests/test_sampling.py. Rows-only check (Datasketches binary is
    engine-specific)."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.hll_sketch_agg("doc_id").alias("sk"),
        F.count_distinct("doc_id").alias("n_exact"),
    )
    per_source_rows = per_source.select(
        "source",
        F.hll_sketch_estimate("sk").alias("n_estimate"),
        "n_exact",
    )
    merged = per_source.agg(
        F.lit("__all__").alias("source"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_estimate"),
        F.sum("n_exact").alias("n_exact"),  # sources partition doc_ids
    )
    return per_source_rows.unionByName(merged)


@query(
    "sq2_product_quantize",
    f"""
    WITH h AS (
        SELECT vec_id, embedding,
               md5('sq2:' || CAST(vec_id AS VARCHAR)) AS hh
        FROM embeddings
    ), cent AS (
        SELECT embedding AS c_vec,
               CAST(row_number() OVER (ORDER BY hh) AS INTEGER) - 1 AS code
        FROM h ORDER BY hh LIMIT 16
    ), sub AS (
        SELECT e.vec_id, CAST(g.s AS INT) AS subspace,
               list_slice(e.embedding, g.s * 8 + 1, g.s * 8 + 8) AS sl
        FROM embeddings e
        CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) g
    ), scored AS (
        SELECT sub.vec_id, sub.subspace, c.code,
               {_L2_SQL.format(
                   a='sub.sl',
                   b='list_slice(c.c_vec, sub.subspace * 8 + 1, '
                     'sub.subspace * 8 + 8)',
               )} AS err2
        FROM sub CROSS JOIN cent c
    ), best AS (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id, subspace ORDER BY err2 ASC, code ASC
        ) AS rn
        FROM scored
    )
    SELECT vec_id AS id, subspace, code FROM best WHERE rn = 1
    """,
    eager=True,  # codebook/centroid draw collects at construction
)
def sq2_product_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization codes (m=8 subspaces x 16 centroids): the
    32x-compressed representation a disk-resident ANN index stores
    (FAISS IVFPQ-style), completing the vector-compression family next
    to sq1's int8 path. HASH-EXACT since r6: the codebook is the
    km1-style salted-md5 corpus draw (engine-portable), so the oracle
    reproduces the 16 drawn vectors, the 8-wide slices (the testdata
    embeddings are 64-dim — the oracle hardcodes d_sub=8 and breaks
    loudly if that changes), and the sequential-fold argmin (ties →
    lower code) bit-for-bit. Reconstruction distortion still carries
    the driver-hashed rf6 floor, and determinism/quality are asserted
    in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.pq_codes(emb, "vec_id", "embedding").select(
        "id", "subspace", "code"
    )


# ---------------------------------------------------------------------------
# r3 additions — repetition/quality stats, n-gram decontamination, and
# corpus length histogram (the C4/MassiveText-style filter family).
# ---------------------------------------------------------------------------


@query(
    "txt7_repetition_stats",
    f"""
    WITH tok AS (
        SELECT doc_id, unnest({_WORDS_SQL}) AS w FROM documents
    ), wc AS (
        SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_words,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) AS DOUBLE) / SUM(c) AS distinct_ratio,
           CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_word_ratio
    FROM wc GROUP BY doc_id
    """,
)
def txt7_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition stats — the C4/MassiveText-style
    repetition filter inputs: distinct-word ratio and the most-frequent
    word's share. Degenerate docs (one phrase looped) show a low
    distinct_ratio / high top_word_ratio and get dropped from training
    mixes. Token explode → (doc, word) count → per-doc rollup; the
    shuffle carries (doc_id, word) pairs, never the body. Ratios are
    int/int divisions evaluated identically in both engines (no float
    accumulation). Docs with zero tokens drop out on both sides
    (explode of an empty list)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tx.normalized_words(F.col("text"))).alias("w")
    )
    wc = tok.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    return wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count("*").alias("n_distinct"),
        (F.count("*").cast("double") / F.sum("c")).alias("distinct_ratio"),
        (F.max("c").cast("double") / F.sum("c")).alias("top_word_ratio"),
    )


@query(
    "txt8_filter_verdict",
    f"""
    WITH proj AS (
        SELECT doc_id, length(text) AS n_chars,
               len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
               unnest({_WORDS_SQL}) AS w
        FROM documents
    ), wc AS (
        SELECT doc_id, n_chars, n_punct, w, COUNT(*) AS c
        FROM proj GROUP BY doc_id, n_chars, n_punct, w
    ), stats AS (
        SELECT doc_id, n_chars, n_punct,
               SUM(c) AS n_words, COUNT(*) AS n_distinct, MAX(c) AS top_c,
               SUM(CASE WHEN list_contains({_ALL_STOP_SQL}, w)
                   THEN c ELSE 0 END) AS n_stop,
               SUM(c * length(w)) AS wls
        FROM wc GROUP BY doc_id, n_chars, n_punct
    ), scored AS (
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               CAST(n_chars AS BIGINT) AS n_chars,
               CAST(top_c AS DOUBLE) / n_words AS top_word_ratio,
               CAST(n_distinct AS DOUBLE) / n_words AS distinct_ratio,
               GREATEST(0.0, LEAST(100.0,
                   LEAST(40.0, CAST(n_words AS DOUBLE) / 2)
                   + LEAST(30.0, CAST(n_stop AS DOUBLE) / n_words * 100)
                   - LEAST(20.0, CAST(n_punct AS DOUBLE) / n_chars * 200)
                   - CASE WHEN CAST(wls AS DOUBLE) / n_words > 12
                          THEN 20.0 ELSE 0.0 END
               )) AS quality_score
        FROM stats
    )
    SELECT doc_id, n_words, n_chars, top_word_ratio, distinct_ratio,
           quality_score,
           (quality_score >= 30.0 AND top_word_ratio <= 0.10
            AND distinct_ratio >= 0.40
            AND n_chars BETWEEN 120 AND 480) AS keep,
           concat_ws(',',
               CASE WHEN quality_score < 30.0 THEN 'low_quality' END,
               CASE WHEN top_word_ratio > 0.10 OR distinct_ratio < 0.40
                    THEN 'repetitive' END,
               CASE WHEN n_chars < 120 OR n_chars > 480
                    THEN 'bad_length' END) AS reasons
    FROM scored
    """,
)
def txt8_filter_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The text-filter family's end product (what dd8 is for dedup): a
    per-document keep/drop verdict composing the quality score (txt2's
    formula), the repetition signals (txt7), and length bounds — with a
    machine-readable ``reasons`` list for filter-rate dashboards.

    One shuffle total: project (doc_id, n_chars, n_punct) + token
    explode, count at (doc, word) grain (map-side combine), roll up to
    doc grain — the document BODY never shuffles. Unlike txt2's oracle,
    ``mean word length`` here is the exact integer sum of word lengths
    (Σ count×len(word)), so every ratio is a single int/int division —
    bit-identical cross-engine with zero float accumulation. Thresholds
    (score ≥ 30, top-word share ≤ 10%, distinct ratio ≥ 0.40, 120 ≤
    chars ≤ 480) straddle the corpus distribution so both verdicts occur
    at every scale factor — score ≥ 45 (pre-r8) kept ZERO synthetic
    docs at every sf, which made cm1's quality arm one-sided and cp1's
    curated corpus empty; 30 keeps 17-19% at sf0.001/0.01/0.1 with
    sub-threshold mass on every reason code. Token-less docs drop (explode of empty list),
    matching txt7."""
    return filter_verdict_plan(load_table(spark, sf_dir, "documents"))


@query(
    "qc2_quality_signal_ab",
    None,  # placeholder — rebound just below (nests txt8's and qc1's
    # registered oracles, both defined above in this module)
)
def qc2_quality_signal_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rule-vs-model quality A/B — the dd16/ii6 convention applied
    to the curation swap VERDICT r10 #3 motivates: before a pipeline
    replaces txt8's hand rules with qc1's learned scorer, it reads ONE
    row of integers saying how the two verdicts actually differ on the
    corpus. Joins the two per-doc keep signals on their (identical)
    tokenized-doc domain and counts the 2×2 agreement table:
    n_both_keep / n_both_drop / n_rule_only_keep (txt8 keeps, qc1
    drops) / n_model_only_keep (qc1 keeps, txt8 drops) + n_docs. The
    off-diagonal cells are the docs whose fate the swap changes —
    measured 1 / 403 at sf0.01 (the rule verdict is the stricter
    filter on this corpus; the model disagrees almost entirely by
    keeping more). All-BIGINT one-row output, hash-exact.

    Scale shape: both inputs are single-pass doc-grain verdicts (their
    plans are priced on their own bench lines); the join is a
    doc_id-grain equi-join of two unique-keyed sides and the rollup is
    one 1-row aggregate — at 100 TB both verdicts are checkpointed
    columns of the same curation table and this is a metadata pass.
    NOT a bench line (cp4 precedent: it re-runs txt8's and qc1's
    chains, each already priced)."""
    t8 = QUERIES["txt8_filter_verdict"].fn(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("rule_keep")
    )
    m = QUERIES["qc1_model_quality_score"].fn(spark, sf_dir).select(
        F.col("doc").alias("doc_id"), F.col("keep").alias("model_keep")
    )
    both = t8.join(m, "doc_id")
    return both.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(
            (F.col("rule_keep") & F.col("model_keep")).cast("bigint")
        ).alias("n_both_keep"),
        F.sum(
            (~F.col("rule_keep") & ~F.col("model_keep")).cast("bigint")
        ).alias("n_both_drop"),
        F.sum(
            (F.col("rule_keep") & ~F.col("model_keep")).cast("bigint")
        ).alias("n_rule_only_keep"),
        F.sum(
            (~F.col("rule_keep") & F.col("model_keep")).cast("bigint")
        ).alias("n_model_only_keep"),
    )


def _bind_qc2_oracle() -> None:
    """qc2 nests txt8's and qc1's registered oracles verbatim — the
    driver's verdict covers both inputs plus the 2×2 rollup."""
    QUERIES["qc2_quality_signal_ab"].oracle = f"""
    WITH t8 AS ({QUERIES["txt8_filter_verdict"].oracle}),
    m AS ({QUERIES["qc1_model_quality_score"].oracle})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN t8.keep AND m.keep THEN 1 ELSE 0 END)
               AS BIGINT) AS n_both_keep,
           CAST(SUM(CASE WHEN NOT t8.keep AND NOT m.keep THEN 1 ELSE 0 END)
               AS BIGINT) AS n_both_drop,
           CAST(SUM(CASE WHEN t8.keep AND NOT m.keep THEN 1 ELSE 0 END)
               AS BIGINT) AS n_rule_only_keep,
           CAST(SUM(CASE WHEN NOT t8.keep AND m.keep THEN 1 ELSE 0 END)
               AS BIGINT) AS n_model_only_keep
    FROM t8 JOIN m ON t8.doc_id = m.doc
    """


_bind_qc2_oracle()


def filter_verdict_plan(docs: DataFrame) -> DataFrame:
    """txt8's verdict over a caller-supplied documents relation — the
    verdict is purely doc-local (no corpus-level statistic anywhere in
    the formula), so a composition that only needs a SLICE scores just
    that slice (cm2's arriving batch: 4x less quality work per day at
    the docstring's 25% arrival rate) and remains row-for-row
    identical to filtering the full-corpus output."""
    words = tx.normalized_words(F.col("text"))
    proj = docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(tx.PUNCT_RE), F.lit(0))
        ).alias("n_punct"),
        F.explode(words).alias("w"),
    )
    wc = proj.groupBy("doc_id", "n_chars", "n_punct", "w").agg(
        F.count("*").alias("c")
    )
    all_stop = [w for _, _, ws in tx.LANG_STOPWORDS for w in ws]
    stats = wc.groupBy("doc_id", "n_chars", "n_punct").agg(
        F.sum("c").alias("n_words"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_c"),
        F.sum(
            F.when(F.col("w").isin(*all_stop), F.col("c")).otherwise(F.lit(0))
        ).alias("n_stop"),
        F.sum(F.col("c") * F.length("w")).alias("wls"),
    )
    n_words_d = F.col("n_words").cast("double")
    score = F.greatest(
        F.lit(0.0),
        F.least(
            F.lit(100.0),
            F.least(F.lit(40.0), n_words_d / 2)
            + F.least(
                F.lit(30.0), F.col("n_stop").cast("double") / F.col("n_words") * 100
            )
            - F.least(
                F.lit(20.0), F.col("n_punct").cast("double") / F.col("n_chars") * 200
            )
            - F.when(
                F.col("wls").cast("double") / F.col("n_words") > 12, F.lit(20.0)
            ).otherwise(F.lit(0.0)),
        ),
    )
    scored = stats.select(
        "doc_id",
        F.col("n_words").alias("n_words"),
        F.col("n_chars").cast("long").alias("n_chars"),
        (F.col("top_c").cast("double") / F.col("n_words")).alias("top_word_ratio"),
        (F.col("n_distinct").cast("double") / F.col("n_words")).alias(
            "distinct_ratio"
        ),
        score.alias("quality_score"),
    )
    low_q = F.col("quality_score") < 30.0
    rep = (F.col("top_word_ratio") > 0.10) | (F.col("distinct_ratio") < 0.40)
    bad_len = (F.col("n_chars") < 120) | (F.col("n_chars") > 480)
    return scored.select(
        "doc_id",
        "n_words",
        "n_chars",
        "top_word_ratio",
        "distinct_ratio",
        "quality_score",
        (~low_q & ~rep & ~bad_len).alias("keep"),
        F.concat_ws(
            ",",
            F.when(low_q, F.lit("low_quality")),
            F.when(rep, F.lit("repetitive")),
            F.when(bad_len, F.lit("bad_length")),
        ).alias("reasons"),
    )


def _bigram_surprisal_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, ms) — per-doc mean bigram surprisal behind txt9; split
    out so tests can pin the SCORES cross-engine (the catalog entry
    exposes ranks only)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", dd.normalized_words(F.col("text")).alias("ws")
    )
    pairs = F.when(
        F.size("ws") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("ws") - 1),
            lambda i: F.struct(
                i.alias("pos"),
                F.element_at(F.col("ws"), i).alias("w1"),
                F.element_at(F.col("ws"), i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,w1:string,w2:string>>"))
    big = words.select("doc_id", F.explode(pairs).alias("b")).select(
        "doc_id", "b.pos", "b.w1", "b.w2"
    )
    big = dd.pin_bounded(big)
    uni = big.groupBy("w1").agg(F.count("*").alias("cu"))
    bi = big.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    scored = (
        big.join(bi, ["w1", "w2"])
        .join(uni, "w1")
        .select(
            "doc_id",
            "pos",
            (-F.log(F.col("cb").cast("double") / F.col("cu"))).alias("s"),
        )
    )
    return scored.groupBy("doc_id").agg(
        (
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("s")))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["s"],
            )
            / F.count("*")
        ).alias("ms")
    )


@query(
    "txt9_bigram_surprisal",
    f"""
    WITH ws AS (
        SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
    ), big AS (
        SELECT doc_id, pos, ws[pos] AS w1, ws[pos + 1] AS w2
        FROM (
            SELECT doc_id, ws,
                   unnest(generate_series(1, greatest(len(ws) - 1, 0)))
                       AS pos
            FROM ws
        )
    ), uni AS (
        SELECT w1, COUNT(*) AS cu FROM big GROUP BY w1
    ), bi AS (
        SELECT w1, w2, COUNT(*) AS cb FROM big GROUP BY w1, w2
    ), scored AS (
        SELECT b.doc_id, b.pos,
               -ln(CAST(bi.cb AS DOUBLE) / uni.cu) AS s
        FROM big b
        JOIN bi ON b.w1 = bi.w1 AND b.w2 = bi.w2
        JOIN uni ON b.w1 = uni.w1
    ), agg AS (
        SELECT doc_id,
               list_reduce(list_transform(
                   list_sort(list(struct_pack(p := pos, s := s))),
                   x -> x.s), (a, b) -> a + b) / COUNT(*) AS ms
        FROM scored GROUP BY doc_id
    )
    SELECT doc_id, rank FROM (
        SELECT doc_id, CAST(row_number() OVER (
            ORDER BY ms DESC, doc_id ASC
        ) AS INT) AS rank
        FROM agg
    ) WHERE rank <= 20
    """,
)
def txt9_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 20 most SURPRISING documents under a corpus bigram LM — the
    perplexity-shaped quality signal (Gopher/MassiveText-style) the
    txt family was missing: per-doc mean surprisal
    ``-(1/n) Σ ln(c(w1,w2) / c(w1))`` with MLE counts over the whole
    corpus (every doc bigram has corpus count >= 1, so the ratio is
    never 0 and ln is finite; c(w1) counts bigram STARTS, i.e. the
    proper Σ_w2 c(w1,w2) denominator). High mean = the doc's
    transitions are rare in this corpus — gibberish, boilerplate-free
    outliers, or wrong-language content; a curation pass drops or
    down-weights them.

    Like ii3, the driver checks the RANKING only (ln is the one
    libm-dependent op): the per-doc sum folds ln terms in bigram
    POSITION order (array_sort then aggregate — functions/exact.py
    rule 2), so both engines fold identical values in identical order
    and only ln ulps differ; docs with IDENTICAL token streams (the
    dup clusters) tie exactly and fall to the doc_id tie-break. Score
    parity is pinned cross-engine at 1e-9 in tests/test_textops.py.

    Scale shape: one bigram explode (pos carried for the canonical
    fold), two count rollups (map-side combined; at 100 TB these are
    the LM's count tables, vocabulary-sized), two keyed joins back to
    the bigram stream (AQE broadcasts them at test scale), one per-doc
    aggregate, and a global top-20 via TakeOrderedAndProject — no
    all-rows single-partition window."""
    agg = _bigram_surprisal_scores(spark, sf_dir)
    top = agg.orderBy(F.col("ms").desc(), F.col("doc_id").asc()).limit(20)
    w = Window.orderBy(F.col("ms").desc(), F.col("doc_id").asc())
    return top.select(
        "doc_id", F.row_number().over(w).cast("int").alias("rank")
    )


def _ngram_structs(n: int):
    """Array<struct> of word n-grams with their 1-based position, from a
    ``ws`` token-array column — the txt9 pattern generalized."""
    fields = "".join(f",w{j}:string" for j in range(1, n + 1))

    def at(i, j):
        return F.element_at(F.col("ws"), i + (j - 1)).alias(f"w{j}")

    return F.when(
        F.size("ws") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("ws") - (n - 1)),
            lambda i: F.struct(
                i.alias("pos"), *[at(i, j) for j in range(1, n + 1)]
            ),
        ),
    ).otherwise(F.array().cast(f"array<struct<pos:int{fields}>>"))


def _trigram_surprisal_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, ms, n_tri, n_bo2, n_bo1, n_oov) — per-EVAL-doc mean
    trigram surprisal under stupid backoff against TRAIN-only counts;
    split out so tests can pin the scores cross-engine (the catalog
    entry exposes ranks + the integer backoff tallies)."""
    docs = load_table(spark, sf_dir, "documents")
    words = sampling.hash_split(
        docs.select(
            "doc_id", dd.normalized_words(F.col("text")).alias("ws")
        ),
        key="doc_id",
    )
    train = words.filter(F.col("split") == "train")
    # TRAIN count tables (the LM): trigram, bigram, unigram + their
    # context rollups — ctx tables derive from the count tables
    # (vocab-sized), never from a second corpus scan.
    tri_t = train.select(F.explode(_ngram_structs(3)).alias("g")).select(
        "g.w1", "g.w2", "g.w3"
    )
    c3 = tri_t.groupBy("w1", "w2", "w3").agg(F.count("*").alias("c3"))
    c3 = dd.pin_bounded(c3)
    ctx2 = c3.groupBy("w1", "w2").agg(F.sum("c3").alias("ctx2"))
    bi_t = train.select(F.explode(_ngram_structs(2)).alias("g")).select(
        F.col("g.w1").alias("a"), F.col("g.w2").alias("b")
    )
    c2 = bi_t.groupBy("a", "b").agg(F.count("*").alias("c2"))
    c2 = dd.pin_bounded(c2)
    # ctx1 derives from c2 — rename its key so the scored plan's two
    # joins (c2 on (a, b), ctx1 on the same first word) stay unambiguous
    ctx1 = (
        c2.groupBy("a")
        .agg(F.sum("c2").alias("ctx1"))
        .withColumnRenamed("a", "ca")
    )
    uni_t = train.select(F.explode("ws").alias("w"))
    c1 = dd.pin_bounded(uni_t.groupBy("w").agg(F.count("*").alias("c1")))
    ntok = c1.agg(F.sum("c1").alias("n_tok"))
    # EVAL trigrams scored against the train LM
    ev = (
        words.filter(F.col("split") != "train")
        .select("doc_id", F.explode(_ngram_structs(3)).alias("g"))
        .select("doc_id", "g.pos", "g.w1", "g.w2", "g.w3")
    )
    p = (
        F.when(
            F.col("c3").isNotNull(),
            F.col("c3").cast("double") / F.col("ctx2"),
        )
        .when(
            F.col("c2").isNotNull(),
            F.lit(0.4) * F.col("c2").cast("double") / F.col("ctx1"),
        )
        .when(
            F.col("c1").isNotNull(),
            F.lit(0.4) * F.lit(0.4) * F.col("c1").cast("double")
            / F.col("n_tok"),
        )
        .otherwise(
            F.lit(0.4) * F.lit(0.4) * F.lit(0.4) / F.col("n_tok")
        )
    )
    lvl = (
        F.when(F.col("c3").isNotNull(), F.lit(0))
        .when(F.col("c2").isNotNull(), F.lit(1))
        .when(F.col("c1").isNotNull(), F.lit(2))
        .otherwise(F.lit(3))
    )
    scored = (
        ev.join(c3, ["w1", "w2", "w3"], "left")
        .join(ctx2, ["w1", "w2"], "left")
        .join(
            c2,
            (F.col("w2") == F.col("a")) & (F.col("w3") == F.col("b")),
            "left",
        )
        .join(ctx1, F.col("w2") == F.col("ca"), "left")
        .join(c1, F.col("w3") == F.col("w"), "left")
        .crossJoin(F.broadcast(ntok))
        .select("doc_id", "pos", (-F.log(p)).alias("s"), lvl.alias("lvl"))
    )
    return scored.groupBy("doc_id").agg(
        (
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("s")))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["s"],
            )
            / F.count("*")
        ).alias("ms"),
        F.count("*").cast("bigint").alias("n_tri"),
        F.sum((F.col("lvl") == 1).cast("bigint")).alias("n_bo2"),
        F.sum((F.col("lvl") == 2).cast("bigint")).alias("n_bo1"),
        F.sum((F.col("lvl") == 3).cast("bigint")).alias("n_oov"),
    )


_TXT10_SPLIT = sql_hash_split("doc_id")

_TXT10_SCORES_SQL = f"""
    WITH ws0 AS (
        SELECT doc_id, {_WORDS_SQL} AS ws, {_TXT10_SPLIT} AS split
        FROM documents
    ), tri_t AS (
        SELECT ws[pos] AS w1, ws[pos + 1] AS w2, ws[pos + 2] AS w3
        FROM (
            SELECT ws, unnest(generate_series(1, greatest(len(ws) - 2, 0)))
                       AS pos
            FROM ws0 WHERE split = 'train'
        )
    ), c3 AS (
        SELECT w1, w2, w3, COUNT(*) AS c3 FROM tri_t GROUP BY w1, w2, w3
    ), ctx2 AS (
        SELECT w1, w2, CAST(SUM(c3) AS BIGINT) AS ctx2 FROM c3 GROUP BY w1, w2
    ), bi_t AS (
        SELECT ws[pos] AS a, ws[pos + 1] AS b
        FROM (
            SELECT ws, unnest(generate_series(1, greatest(len(ws) - 1, 0)))
                       AS pos
            FROM ws0 WHERE split = 'train'
        )
    ), c2 AS (
        SELECT a, b, COUNT(*) AS c2 FROM bi_t GROUP BY a, b
    ), ctx1 AS (
        SELECT a, CAST(SUM(c2) AS BIGINT) AS ctx1 FROM c2 GROUP BY a
    ), c1 AS (
        SELECT w, COUNT(*) AS c1
        FROM (SELECT unnest(ws) AS w FROM ws0 WHERE split = 'train')
        GROUP BY w
    ), ntok AS (SELECT CAST(SUM(c1) AS BIGINT) AS n_tok FROM c1),
    ev AS (
        SELECT doc_id, pos, ws[pos] AS w1, ws[pos + 1] AS w2,
               ws[pos + 2] AS w3
        FROM (
            SELECT doc_id, ws,
                   unnest(generate_series(1, greatest(len(ws) - 2, 0)))
                       AS pos
            FROM ws0 WHERE split <> 'train'
        )
    ), scored AS (
        SELECT e.doc_id, e.pos,
               -ln(CASE
                   WHEN c3.c3 IS NOT NULL
                       THEN CAST(c3.c3 AS DOUBLE) / ctx2.ctx2
                   WHEN c2.c2 IS NOT NULL
                       THEN 0.4 * CAST(c2.c2 AS DOUBLE) / ctx1.ctx1
                   WHEN c1.c1 IS NOT NULL
                       THEN 0.4 * 0.4 * CAST(c1.c1 AS DOUBLE) / t.n_tok
                   ELSE 0.4 * 0.4 * 0.4 / t.n_tok
               END) AS s,
               CASE WHEN c3.c3 IS NOT NULL THEN 0
                    WHEN c2.c2 IS NOT NULL THEN 1
                    WHEN c1.c1 IS NOT NULL THEN 2
                    ELSE 3 END AS lvl
        FROM ev e
        LEFT JOIN c3 ON e.w1 = c3.w1 AND e.w2 = c3.w2 AND e.w3 = c3.w3
        LEFT JOIN ctx2 ON e.w1 = ctx2.w1 AND e.w2 = ctx2.w2
        LEFT JOIN c2 ON e.w2 = c2.a AND e.w3 = c2.b
        LEFT JOIN ctx1 ON e.w2 = ctx1.a
        LEFT JOIN c1 ON e.w3 = c1.w
        CROSS JOIN ntok t
    ), agg AS (
        SELECT doc_id,
               list_reduce(list_transform(
                   list_sort(list(struct_pack(p := pos, s := s))),
                   x -> x.s), (a, b) -> a + b) / COUNT(*) AS ms,
               CAST(COUNT(*) AS BIGINT) AS n_tri,
               CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bo2,
               CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bo1,
               CAST(SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_oov
        FROM scored GROUP BY doc_id
    )
"""


@query(
    "txt10_trigram_surprisal",
    _TXT10_SCORES_SQL
    + """
    SELECT doc_id, rank, n_tri, n_bo2, n_bo1, n_oov FROM (
        SELECT doc_id, CAST(row_number() OVER (
            ORDER BY ms DESC, doc_id ASC
        ) AS INT) AS rank, n_tri, n_bo2, n_bo1, n_oov
        FROM agg
    ) WHERE rank <= 20
    """,
)
def txt10_trigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 20 most surprising HELD-OUT documents under a TRAIN-only
    trigram LM with stupid backoff (Brants et al. 2007) — txt9's recipe
    at trigram depth where backoff is REAL: scoring a corpus against
    its own counts (txt9) never backs off (every doc n-gram has count
    >= 1 by construction); here the sp1 hash split (salt 'split',
    80/10/10) builds the count tables from the train split only and
    scores the val+test docs, so unseen trigrams actually fall through
    the cascade:

        P(w3|w1,w2) = c3/ctx2            if the trigram was seen,
                    = 0.4  · c2/ctx1     else if the (w2,w3) bigram was,
                    = 0.4² · c1/N        else if w3 was,
                    = 0.4³ · 1/N         else (OOV floor — ln stays
                                          finite for every eval token).

    Output per ranked doc: (doc_id, rank, n_tri, n_bo2, n_bo1, n_oov)
    — the backoff tallies are exact integers, so beyond the ln-safe
    ranking (the txt9/ii3 argument; score parity pinned at 1e-9 in
    tests/test_textops.py) the driver hash also checks HOW OFTEN each
    backoff level fired per document.

    Scale shape: three train-side explodes build the LM count tables
    (map-side combined; vocabulary-sized — these ARE the LM at 100 TB),
    context denominators roll up from the count tables rather than
    re-scanning the corpus, the eval stream joins the counts on their
    natural keys (AQE broadcasts them at test scale), the per-doc mean
    folds in position order, and the top-20 is TakeOrderedAndProject."""
    agg = _trigram_surprisal_scores(spark, sf_dir)
    top = agg.orderBy(F.col("ms").desc(), F.col("doc_id").asc()).limit(20)
    w = Window.orderBy(F.col("ms").desc(), F.col("doc_id").asc())
    return top.select(
        "doc_id",
        F.row_number().over(w).cast("int").alias("rank"),
        "n_tri",
        "n_bo2",
        "n_bo1",
        "n_oov",
    )


@query(
    "ii1_inverted_index",
    f"""
    WITH tok AS (
        SELECT doc_id, unnest({_WORDS_SQL}) AS token FROM documents
    ), wc AS (
        SELECT token, doc_id, COUNT(*) AS tf FROM tok GROUP BY token, doc_id
    ), ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY token ORDER BY doc_id
        ) AS rn
        FROM wc
    ), inv AS (
        SELECT token,
               CAST(COUNT(*) AS BIGINT) AS doc_freq,
               CAST(SUM(tf) AS BIGINT) AS n_occurrences,
               array_to_string(list_transform(
                   list_sort(list(doc_id) FILTER (WHERE rn <= 16)),
                   x -> CAST(x AS VARCHAR)), ',') AS postings_head
        FROM ranked GROUP BY token
    ), tot AS (
        SELECT COUNT(*) AS n_total FROM documents
    )
    SELECT token, doc_freq, n_occurrences,
           (n_total - doc_freq + 0.5) / (doc_freq + 0.5) AS idf_ratio,
           postings_head
    FROM inv CROSS JOIN tot
    """,
)
def ii1_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: token → (document frequency, total
    occurrences, BM25 idf argument, head of the sorted posting list).

    The retrieval-side twin of txt6's vocabulary pass. Scale shape:
    token explode → (token, doc_id)-grain count (map-side combine — the
    shuffle carries ids and counts, never text), ONE window per token
    ranks postings by doc_id, and the per-token rollup reuses that same
    hash partitioning (no extra Exchange). The posting list is capped
    BEFORE collect_list via the rank filter (``rn <= 16``), so a
    hot/stopword token contributes bounded aggregation state — the
    difference between an index build that survives a 10^12-doc corpus
    and one that OOMs on the word 'the'. Full postings at scale would
    go to a bucketed sink (sources/bucketed.py) rather than one array.
    ``idf_ratio`` is BM25's (N - df + 0.5)/(df + 0.5) left as the
    pre-log ratio: one exact int/int-derived division (bit-identical
    cross-engine; ln() differs by ulps between libms, so the log stays
    downstream)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tx.normalized_words(F.col("text"))).alias("token")
    )
    wc = tok.groupBy("token", "doc_id").agg(F.count("*").alias("tf"))
    w = Window.partitionBy("token").orderBy("doc_id")
    ranked = wc.withColumn("rn", F.row_number().over(w))
    inv = ranked.groupBy("token").agg(
        F.count("*").alias("doc_freq"),
        F.sum("tf").alias("n_occurrences"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("rn") <= 16, F.col("doc_id"))
                    )
                ),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings_head"),
    )
    total = docs.agg(F.count("*").alias("n_total"))
    return inv.crossJoin(F.broadcast(total)).select(
        "token",
        "doc_freq",
        "n_occurrences",
        (
            (F.col("n_total") - F.col("doc_freq") + F.lit(0.5))
            / (F.col("doc_freq") + F.lit(0.5))
        ).alias("idf_ratio"),
        "postings_head",
    )


@query(
    "km1_kmeans_assign",
    f"""
    WITH {_KM_SCORED_SQL}
    SELECT vec_id AS id, cid AS cluster_id, d2 AS dist2
    FROM best WHERE rn = 1
    """,
    eager=True,  # codebook draw collects at construction (ADVICE r7 rule)
)
def km1_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means E-step over the embedding corpus (k=8, portable seeded
    init) — the codebook-training pass ann3's IVF index is missing (its
    training-free draw is iteration 0 of this loop). Assignment is a
    pure column expression against a from_json literal codebook: no
    shuffle, no join — one scan at any corpus size. Hash-exact because
    the init draw is a salted-md5 order both engines reproduce and the
    distance folds are sequential (ann1 precedent). The M-step is
    rf9_kmeans_lloyd_floor's monotonicity gate."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.kmeans_assign(emb, "vec_id", "embedding", k=8, salt="km1")


def _km2_ctes(
    iters: int = 2,
    k: int = 8,
    scale: int = 10_000,
    salt: str = "km1",
    prefix: str = "",
    final_assignment: bool = True,
) -> list[str]:
    """The FIXED Lloyd CTE chain (the pr1 fixed-iteration precedent) —
    xi (scaled-long components), c0 (the seeded draw in ints), then per
    round r: s_r (integer squared L2 per (vec, cell)), a_r (argmin with
    the (d2, cid) tie-break), c_{r+1} (truncating-division means). ONE
    builder generates plan-matching SQL for any round count, so an
    iters change moves plan and oracle in lockstep. ``salt`` and
    ``prefix`` parameterize the draw and the CTE names for composed
    consumers (ann6 nests this chain at salt='ann3', prefix='ann6_' —
    the SCALE_r10 §7 shadowing rule); km2's own oracle uses the
    defaults, text byte-identical to the pre-refactor builder
    (asserted in tests/test_similarity.py).
    ``final_assignment=False`` stops the chain at the trained codebook
    c_iters, skipping the trailing s_iters/a_iters E-step — composed
    consumers that read only the codebook (ann6) must not emit dead
    CTEs a future MATERIALIZED sweep could start evaluating
    (ADVICE r14)."""
    p = prefix
    # with a prefix, prefixed relations are re-aliased to the bare
    # names so every column reference stays identical; with the empty
    # prefix the emitted text is byte-for-byte the pre-refactor km2
    # builder's (asserted in tests/test_similarity.py)
    xi_ref = f"{p}xi xi" if p else "xi"
    dr_ref = f"{p}dr dr" if p else "dr"
    ctes = [
        f"""{p}xi AS (
        SELECT vec_id AS id, i - 1 AS d,
               CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {scale}) AS BIGINT)
                   AS x
        FROM (SELECT vec_id, embedding,
                     unnest(generate_series(1, len(embedding))) AS i
              FROM embeddings)
    )""",
        f"""{p}dr AS (
        SELECT vec_id, CAST(row_number() OVER (
            ORDER BY md5('{salt}:' || CAST(vec_id AS VARCHAR))
        ) AS INTEGER) - 1 AS cid
        FROM embeddings
    )""",
        f"""{p}c0 AS (
        SELECT dr.cid, xi.d, xi.x AS c
        FROM {dr_ref} JOIN {xi_ref} ON dr.vec_id = xi.id
        WHERE dr.cid < {k}
    )""",
    ]
    for r in range(iters + 1 if final_assignment else iters):
        ctes.append(f"""{p}s{r} AS (
        SELECT xi.id, c.cid,
               CAST(SUM((xi.x - c.c) * (xi.x - c.c)) AS BIGINT) AS d2
        FROM {xi_ref} JOIN {p}c{r} c ON xi.d = c.d
        GROUP BY xi.id, c.cid
    )""")
        ctes.append(f"""{p}a{r} AS (
        SELECT id, cid, d2 FROM (
            SELECT *, row_number() OVER (
                PARTITION BY id ORDER BY d2, cid
            ) AS rn FROM {p}s{r}
        ) WHERE rn = 1
    )""")
        if r < iters:
            ctes.append(f"""{p}c{r + 1} AS (
        SELECT a.cid, xi.d, CAST(SUM(xi.x) // COUNT(*) AS BIGINT) AS c
        FROM {p}a{r} a JOIN {xi_ref} ON a.id = xi.id
        GROUP BY a.cid, xi.d
    )""")
    return ctes


def _km2_sql(iters: int = 2, k: int = 8, scale: int = 10_000) -> str:
    """km2's oracle: the Lloyd chain ending with the assignment under
    the final codebook (see :func:`_km2_ctes`)."""
    ctes = _km2_ctes(iters=iters, k=k, scale=scale)
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT id, cid AS cluster_id, d2 AS dist2 FROM a{iters}"
    )


@query(
    "km2_kmeans_train",
    _km2_sql(iters=2),
    eager=True,  # seeded draw + per-iteration M-step collects
)
def km2_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL Lloyd k-means TRAINING (VERDICT r11 #4 — km1 assigns to
    md5-seeded centroids and nothing ever updated them, yet
    dd13/dc3/ann3/ann5/sq2 all consume the cells): two complete
    assign/update iterations in SCALED-LONG integer arithmetic, then
    the final assignment (id, cluster_id, dist2) under the TRAINED
    codebook. Quantization floor(x × 1e4), truncating-division means
    (Spark ``div`` == DuckDB ``//`` == the Python recompute, verified
    including negatives), exact BIGINT distance folds — so a trained
    codebook is bit-identical cross-engine and the whole trajectory is
    hash-checkable (what rf9's float M-step could only tolerance-gate;
    the pr1 fixed-iteration precedent). c0 is km1's seeded draw
    quantized, so iteration 0 is km1's E-step in the integer domain
    and the trained-vs-seeded comparison is apples-to-apples
    (tests/test_similarity.py pins that training MOVES: codebooks
    differ, vectors change cells, and inertia drops ~42% in round 1
    and ~0.7% in round 2, consistently at all three scales — near-
    converged after two rounds, the classic Lloyd curve — and
    SCALE_r12.md measures the consequence on dd13's τ-pair capture). Convergence is gated by
    rf14_int_lloyd_convergence; empty cells drop (standard Lloyd).

    Scale shape per iteration (operators/similarity.
    kmeans_lloyd_codebooks): assignment is a pure column expression
    against the constant-size codebook literal — no shuffle, km1's
    only-viable-shape argument — and the M-step is one posexplode +
    map-side-combined groupBy(cluster, component) yielding k × dim
    metadata rows collected into the next literal (the dd6/CC
    per-round-collect precedent). Inertia stays under BIGINT to ~10^8
    vectors at this scale; the knob and the ANSI-throws guarantee are
    documented on the operator."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.kmeans_lloyd_train(
        emb, "vec_id", "embedding", k=8, salt="km1", iters=2
    )


# ann6's oracle: km2's integer Lloyd chain at (k=16, salt='ann3',
# iters=2) producing the TRAINED coarse codebook, dequantized to
# double lists, then ann3's IVF text against those centroids — all
# CTEs ann6_-prefixed (the SCALE_r10 §7 shadowing rule; _km2_ctes
# re-aliases the prefixed relations so column references are
# unchanged). ann6_rcells is AS MATERIALIZED (r14 review finding):
# it is referenced by BOTH corp and probes and sits atop the entire
# nested Lloyd chain — the exact multi-reference shape the CLAUDE.md
# dq5 rule exists for, and DuckDB WAS re-evaluating it per reference:
# plain vs materialized measured 0.4/0.6/1.5s vs 0.2/0.3/0.8s at
# sf0.001/0.01/0.1 (~2× at every scale); results identical tri-scale.
# final_assignment=False (ADVICE r14): ann6 consumes only the trained
# codebook ann6_c2 — the trailing ann6_s2/ann6_a2 E-step would be dead
# SQL a future MATERIALIZED sweep could accidentally start evaluating.
_ANN6_KM_CTES = ",\n    ".join(
    _km2_ctes(
        iters=2,
        k=16,
        scale=sim.KM2_SCALE,
        salt="ann3",
        prefix="ann6_",
        final_assignment=False,
    )
)
_ANN6_SQL = f"""
    WITH {_ANN6_KM_CTES},
    ann6_cb AS (
        SELECT cid, list(c / {sim.KM2_SCALE}.0 ORDER BY d) AS c_vec
        FROM ann6_c2 GROUP BY cid
    ),
    ann6_cent AS (
        SELECT c_vec,
               CAST(row_number() OVER (ORDER BY cid) AS INTEGER) - 1 AS cell
        FROM ann6_cb
    ),
    ann6_base AS (
        SELECT vec_id, embedding, {_NORM_SQL.format(a='embedding')} AS nrm
        FROM embeddings
        WHERE {_NORM_SQL.format(a='embedding')} > 0
    ),
    ann6_dots AS (
        SELECT b.vec_id, b.embedding, b.nrm, c.cell,
               {_DOT_SQL.format(a='b.embedding', b='c.c_vec')} AS dot
        FROM ann6_base b CROSS JOIN ann6_cent c
    ),
    ann6_rcells AS MATERIALIZED (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY dot DESC, cell ASC
        ) AS cr
        FROM ann6_dots
    ),
    ann6_corp AS (
        SELECT vec_id AS n_id, embedding AS n_vec, nrm AS n_norm, cell
        FROM ann6_rcells WHERE cr = 1
    ),
    ann6_probes AS (
        SELECT vec_id AS q_id, embedding AS q_vec, nrm AS q_norm, cell
        FROM ann6_rcells WHERE vec_id < 10 AND cr <= 4
    ),
    ann6_scored AS (
        SELECT p.q_id, c.n_id,
               {_DOT_SQL.format(a='p.q_vec', b='c.n_vec')}
                   / (p.q_norm * c.n_norm) AS cos_sim
        FROM ann6_probes p JOIN ann6_corp c
          ON p.cell = c.cell AND c.n_id <> p.q_id
    ),
    ann6_ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY cos_sim DESC, n_id ASC
        ) AS rank
        FROM ann6_scored
    )
    SELECT q_id, n_id, cos_sim, rank FROM ann6_ranked WHERE rank <= 5
"""


@query(
    "ann6_trained_ivf_topk",
    _ANN6_SQL,
    eager=True,  # Lloyd training + codebook dequantize collect at construction
)
def ann6_trained_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRAINED-CELLS SERVING path (VERDICT r13 "Next round" #5 —
    the r13 probe measured the consequence, rf2-setting recall
    0.40→0.56 at the gate under km2's codebook, but every registered
    ANN consumer stayed seeded for verdict continuity; this entry
    registers the trained configuration as its own first-class
    serving entry, leaving ann3 untouched): ann3's IVF top-5 (16
    cells, 4 probes, vec_id < 10 queries) with the coarse codebook
    TRAINED by km2's two integer Lloyd iterations
    (kmeans_lloyd_codebooks at salt='ann3', k=16 — iteration 0 is
    ann3's own seeded draw quantized, so seeded-vs-trained is
    apples-to-apples) and dequantized by /KM2_SCALE.

    HASH-EXACT end-to-end: the integer Lloyd trajectory is
    bit-portable (km2's argument — floor quantization, BIGINT distance
    folds, truncating-division means), the dequantization c/10000.0 is
    one correctly-rounded double division in all three engines, and
    the IVF stage is ann3's established exact machinery (max-dot cell
    assignment with the (dot DESC, cell ASC) tie-break, sequential
    cosine folds). The oracle nests km2's CTE chain at the trained
    parameters (ann6_-prefixed) and maps cell index = row_number over
    surviving cid order — exactly the sorted(by_cid) order the Spark
    side's codebook list carries (empty cells drop in both, standard
    Lloyd). rf15 floors the recall gain this entry exists for.

    Scale shape: training is km2's (per iteration: one codebook-
    literal column expression + one posexplode groupBy to k × dim
    metadata rows); serving is ann3's (corpus scanned once for cell
    assignment, candidate join carries only probed cells). NOT a bench
    line (the cp4 honest-pricing precedent: km2 and ann3's shapes are
    each already priced; this entry would re-price their sum)."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = sim.kmeans_lloyd_codebooks(
        emb, "vec_id", "embedding", k=16, salt="ann3", iters=2
    )
    cents = [
        [c / float(sim.KM2_SCALE) for c in comps] for _, comps in books[-1]
    ]
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.ivf_topk(
        queries, emb, "vec_id", "embedding", k=5, centroids=cents
    )


def _ngram_sql(n: int) -> str:
    """DuckDB n-gram fragment over a word list ``ws`` (matches
    operators/dedup.word_shingles for the same n)."""
    joined = " || ' ' || ".join(f"ws[i+{j}]" for j in range(n))
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len(ws) - {n - 1}, 0)), i -> {joined}))"
    )


@query(
    "dd7_ngram_contamination",
    f"""
    WITH split AS (
        SELECT doc_id, {_WORDS_SQL} AS ws, {sql_hash_split('doc_id')} AS split
        FROM documents
    ), grams AS (
        SELECT doc_id, split, unnest({_ngram_sql(8)}) AS g FROM split
    ), eval_grams AS (
        SELECT DISTINCT g FROM grams WHERE split <> 'train'
    )
    SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
    FROM grams t JOIN eval_grams e ON t.g = e.g
    WHERE t.split = 'train'
    GROUP BY t.doc_id
    """,
)
def dd7_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval 8-gram contamination — the GPT-3/PaLM-style overlap
    decontamination check, stronger than dc1's whole-prefix digest: a
    training doc sharing ANY 8-gram with the held-out split is flagged
    with its overlap count. One gram equi-join; the shuffle carries
    (gram, doc_id) — at 100 TB the gram string would ride as md5/xxhash
    digests, same shape. Composes sp1's deterministic split with the
    dedup-family shingles (operators/dedup.word_shingles at n=8)."""
    from ..operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    # tokenize into a COLUMN before the shingle transform — inlining
    # normalized_words into the lambda makes every element_at re-run the
    # regex split (8 per shingle here; measured 8x: 30s -> 3.9s at
    # sf0.1). Same rule as shingle_pairs_jaccard.
    grams = (
        hash_split(docs, key="doc_id")
        .select(
            "doc_id", "split", dd.normalized_words(F.col("text")).alias("ws")
        )
        .select(
            "doc_id",
            "split",
            F.explode(dd.word_shingles(F.col("ws"), n=8)).alias("g"),
        )
    )
    eval_grams = grams.filter(F.col("split") != "train").select("g").distinct()
    return (
        grams.filter(F.col("split") == "train")
        .join(eval_grams, "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_grams"))
    )


@query(
    "a16_length_histogram",
    f"""
    WITH n AS (
        SELECT len({_WORDS_SQL}) AS n_words FROM documents
    )
    SELECT CAST(FLOOR(LOG2(n_words)) AS BIGINT) AS bucket,
           CAST(1 AS BIGINT) << CAST(FLOOR(LOG2(n_words)) AS INT)
               AS bucket_lo,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_tokens
    FROM n
    WHERE n_words > 0
    GROUP BY 1, 2
    """,
)
def a16_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two token-length histogram — the sequence-length
    budgeting view every pretraining mix needs (how many docs land in
    each 2^k bucket, how many tokens they contribute). Single
    aggregation over a scan-side expression; log2 is exact at the
    power-of-two boundaries in both engines, so the integer bucket is
    portable at these lengths."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(tx.normalized_words(F.col("text")))
    bucket = F.floor(F.log2(F.col("n_words"))).cast("bigint")
    return (
        docs.select(n_words.alias("n_words"))
        .filter(F.col("n_words") > 0)
        .select(bucket.alias("bucket"), "n_words")
        .select(
            "bucket",
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT))").alias(
                "bucket_lo"
            ),
            "n_words",
        )
        .groupBy("bucket", "bucket_lo")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("total_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# DP1 — sequence packing (concat-and-chop global token offsets).
# ---------------------------------------------------------------------------


def sql_pack_chop(
    rel: str, order_col: str = "doc", carry: str = "doc, n_tokens",
    seq_len: int = 2048,
) -> str:
    """DuckDB packing arithmetic over a relation providing ``n_tokens``
    (plus the ``carry`` columns): one global running sum in ``order_col``
    order, chopped into ``seq_len`` sequences. ONE definition of the
    concat-and-chop semantics, shared by dp1 (document order over the
    whole corpus) and cp1 (training-shuffle order over the curated
    corpus). The oracle states the single global window; the Spark twin
    is operators/packing.pack_offsets' two-level decomposition."""
    L = int(seq_len)
    return f"""
    SELECT {carry},
           cum - n_tokens AS start_off,
           CAST((cum - n_tokens) // {L} AS BIGINT) AS first_seq,
           CAST((cum - 1) // {L} AS BIGINT) AS last_seq,
           CAST((cum - 1) // {L} - (cum - n_tokens) // {L} + 1 AS BIGINT)
               AS n_seqs
    FROM (
        SELECT *, CAST(SUM(n_tokens) OVER (
                   ORDER BY {order_col} ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW
               ) AS BIGINT) AS cum
        FROM {rel} WHERE n_tokens > 0
    )
    """


def sql_shuffle_positions(
    rel: str, id_expr: str = "doc", seed: int = 42, shard_size: int = 1000
) -> str:
    """DuckDB twin of operators/packing.shuffle_positions over any
    relation: dense salted-md5 training-order position + shard. Shared
    by ds1 (whole documents table) and cp1 (the curated admitted set)."""
    h = f"md5('{int(seed)}|' || CAST({id_expr} AS VARCHAR))"
    return f"""
    SELECT {id_expr} AS doc,
           CAST(ROW_NUMBER() OVER (
               ORDER BY {h}, {id_expr}
           ) - 1 AS BIGINT) AS pos,
           CAST((ROW_NUMBER() OVER (
               ORDER BY {h}, {id_expr}
           ) - 1) // {int(shard_size)} AS BIGINT) AS shard
    FROM {rel}
    """


def sql_temperature_mix(
    rel: str,
    id_expr: str = "doc_id",
    order_expr: str | None = None,
    tokens_expr: str | None = None,
) -> str:
    """DuckDB twin of operators/sampling.temperature_mix (α=0.5,
    β=1/2, salt 'mix') over any relation providing (``id_expr``,
    source, text). Shared by mx1 (whole documents table), cp1/cp3
    (curated keep sets) and mx3 (which passes ``order_expr``, an
    INTEGER column on ``rel``, to prepend an admission priority to the
    per-source hash order — sampling.temperature_mix's ``order_col``).
    ``tokens_expr`` (mx4) replaces the default whitespace-word token
    metric with any INTEGER expression over ``rel``'s columns — the
    budget GRAIN is a parameter of the builder, not a different
    mixture (the Spark twin's ``tokens_col`` has always been one);
    None keeps the word-count token metric, so every existing
    oracle's RESULTS are unchanged (its text is not byte-identical).
    ``nz`` (read by ``tot`` and ``c``) and ``tot`` (read by ``g`` and
    ``b``) are ``AS MATERIALIZED``: DuckDB otherwise inlines them per
    reference, and inside the cp chains (cp1/cp3 → adm → shuf/cj)
    those re-evaluations multiply. All-BIGINT keep arithmetic — see
    mx1_temperature_mix's docstring."""
    # COALESCE to Long.MAX exactly as the Spark side does (ADVICE r9):
    # sampling.temperature_mix coalesces a NULL order value to 2^63-1 so
    # NULLs admit last; DuckDB's ORDER BY defaults NULLS LAST, which
    # TIES NULL with a genuine Long.MAX under Spark but sorts strictly
    # after it here — the builders are the shared contract, so the twin
    # must state the same total order even though every current caller
    # (mx3) coalesces upstream.
    qsel = (
        f",\n               COALESCE(CAST({order_expr} AS BIGINT),"
        f" 9223372036854775807) AS qb"
        if order_expr
        else ""
    )
    qord = "qb, " if order_expr else ""
    tok = tokens_expr if tokens_expr is not None else f"len({_WORDS_SQL})"
    return f"""
    WITH t AS (
        SELECT {id_expr} AS doc, source,
               CAST({tok} AS BIGINT) AS n_tokens{qsel}
        FROM {rel}
    ), nz AS MATERIALIZED (
        SELECT * FROM t WHERE n_tokens > 0
    ), tot AS MATERIALIZED (
        SELECT source,
               CAST(SUM(n_tokens) AS BIGINT) AS t_s,
               CAST(FLOOR(SQRT(CAST(SUM(n_tokens) AS BIGINT))) AS BIGINT)
                   AS isq
        FROM nz GROUP BY source
    ), g AS (
        SELECT CAST(SUM(t_s) AS BIGINT) AS total,
               CAST(SUM(isq) AS BIGINT) AS denom
        FROM tot
    ), b AS (
        SELECT source,
               CAST((total // (2 * denom)) * isq
                    + ((total % (2 * denom)) * isq) // (2 * denom)
                    AS BIGINT) AS budget
        FROM tot, g
    ), c AS (
        SELECT doc, source, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   PARTITION BY source
                   ORDER BY {qord}md5('mix:' || CAST(doc AS VARCHAR)), doc
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum
        FROM nz
    )
    SELECT c.doc, c.source, c.n_tokens, c.cum <= b.budget AS kept
    FROM c JOIN b ON c.source = b.source
    """


@query(
    "dp1_sequence_packing",
    f"""
    WITH t AS (
        SELECT doc_id AS doc, CAST(len({_WORDS_SQL}) AS BIGINT) AS n_tokens
        FROM documents
    )
    {sql_pack_chop('t', 'doc', 'doc, n_tokens')}
    """,
)
def dp1_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chop sequence packing (L=2048): every document's global
    token offset, first/last training-sequence index, and straddle count
    — the layout pass that turns a filtered corpus into fixed-length
    pretraining sequences.

    The oracle states the semantics as ONE global running sum; the Spark
    plan must NOT run it that way (a partitionless ordered window is an
    Exchange SinglePartition — the whole corpus through one task). The
    operator computes the identical numbers with a two-level prefix sum:
    per-range-bucket windows at full width plus a broadcast of the
    metadata-sized bucket-offset table (operators/packing.py;
    plan shape asserted in tests/test_plans.py).
    """
    docs = load_table(spark, sf_dir, "documents")
    counted = docs.select(
        F.col("doc_id").alias("doc"),
        F.size(tx.normalized_words(F.col("text"))).alias("n_tokens"),
    )
    return pk.pack_offsets(
        counted, id_col="doc", tokens_col="n_tokens", seq_len=2048,
        bucket_width=256,
    )


@query(
    "dp2_sequence_manifest",
    f"""
    WITH t AS (
        SELECT doc_id AS doc, CAST(len({_WORDS_SQL}) AS BIGINT) AS n_tokens
        FROM documents
    ), p AS (
        {sql_pack_chop('t', 'doc', 'doc, n_tokens')}
    ), x AS (
        SELECT doc, n_tokens, start_off,
               unnest(generate_series(first_seq, last_seq)) AS seq
        FROM p
    )
    SELECT seq,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc) AS first_doc,
           MAX(doc) AS last_doc,
           CAST(SUM(LEAST(start_off + n_tokens, (seq + 1) * 2048)
                    - GREATEST(start_off, seq * 2048)) AS BIGINT)
               AS n_tokens_in_seq
    FROM x GROUP BY seq
    """,
)
def dp2_sequence_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INVERSE view of dp1's packing — one row per TRAINING
    SEQUENCE: which documents compose sequence s, and how many of its
    2048 tokens each boundary contributes. This is the manifest an
    attribution / membership-inference / dedup-the-eval-set job needs
    ("which docs did sequence 12345 see?") and the integrity check a
    packing writer runs (every non-final sequence must hold exactly
    2048 tokens).

    Output: (seq, n_docs, first_doc, last_doc, n_tokens_in_seq) — all
    integers, hash-exact. The token-in-sequence arithmetic is interval
    clipping: min(doc_end, seq_end) - max(doc_start, seq_start), summed
    over the docs the sequence touches.

    Scale shape: dp1's two-level prefix-sum packing, then one explode
    of size Σ n_seqs = n_docs + total_tokens/2048 (each doc emits one
    row per spanned sequence — bounded by corpus size plus sequence
    count, no quadratic blowup), then one map-side-combined groupBy on
    the sequence index. Derived entirely from dp1's checked offsets;
    the oracle nests the same sql_pack_chop builder."""
    docs = load_table(spark, sf_dir, "documents")
    counted = docs.select(
        F.col("doc_id").alias("doc"),
        F.size(tx.normalized_words(F.col("text"))).alias("n_tokens"),
    )
    packed = pk.pack_offsets(
        counted, id_col="doc", tokens_col="n_tokens", seq_len=2048,
        bucket_width=256,
    )
    L = 2048
    x = packed.select(
        "doc",
        "n_tokens",
        "start_off",
        F.explode(
            F.sequence(F.col("first_seq"), F.col("last_seq"))
        ).alias("seq"),
    )
    tokens_in = F.least(
        F.col("start_off") + F.col("n_tokens"), (F.col("seq") + 1) * L
    ) - F.greatest(F.col("start_off"), F.col("seq") * L)
    return x.groupBy("seq").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("doc").alias("first_doc"),
        F.max("doc").alias("last_doc"),
        F.sum(tokens_in).cast("bigint").alias("n_tokens_in_seq"),
    )


@query(
    "ds1_corpus_shuffle",
    sql_shuffle_positions("documents", "doc_id"),
)
def ds1_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle: dense training-order position
    (salted-md5 sort, seed 42) + 1000-doc shard assignment — the
    reproducible-order pass that precedes packing (dp1) and sharded
    writes. Oracle is the single global row_number; the Spark plan is
    the decomposed form (16^prefix_chars hash-prefix buckets ×
    per-bucket row_number + broadcast bucket offsets; default 4096,
    parameterized so the per-bucket task size scales down at 10^12 docs) with no data-sized
    SinglePartition exchange (operators/packing.py, asserted in
    tests/test_packing.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return pk.shuffle_positions(
        docs.select(F.col("doc_id").alias("doc")), id_col="doc", seed=42,
        shard_size=1000,
    )


# ds3's quality tiers: FIXED integer thresholds on qc1's margin per
# token (the txt8 threshold rule — chosen to straddle the corpus
# distribution so every tier is occupied at every sf: 136/124/128/112,
# 124/130/121/125, 1341/1326/1281/1052 docs at sf0.001/0.01/0.1).
# All-BIGINT cross-multiplication, no division.
_DS3_TIER_SQL = """CASE WHEN margin >= 220 * n_tokens THEN 0
                WHEN margin >= 165 * n_tokens THEN 1
                WHEN margin >= 110 * n_tokens THEN 2
                ELSE 3 END"""


def _ds3_tier():
    """The Spark twin of _DS3_TIER_SQL over qc1's (margin, n_tokens) —
    ONE definition feeding ds3 and ds4 (r12), so a threshold tweak
    moves both curricula and both oracles in lockstep."""
    return (
        F.when(F.col("margin") >= 220 * F.col("n_tokens"), 0)
        .when(F.col("margin") >= 165 * F.col("n_tokens"), 1)
        .when(F.col("margin") >= 110 * F.col("n_tokens"), 2)
        .otherwise(3)
    ).cast("bigint")


@query(
    "ds3_quality_curriculum",
    f"""
    WITH m AS ({{qc1}}),
    t AS (
        SELECT doc,
               CAST({_DS3_TIER_SQL} AS BIGINT) AS tier
        FROM m
    )
    SELECT doc, tier,
           CAST(ROW_NUMBER() OVER (
               ORDER BY tier, md5('42|' || CAST(doc AS VARCHAR)), doc
           ) - 1 AS BIGINT) AS pos,
           CAST((ROW_NUMBER() OVER (
               ORDER BY tier, md5('42|' || CAST(doc AS VARCHAR)), doc
           ) - 1) // 1000 AS BIGINT) AS shard
    FROM t
    """.format(qc1=QUERIES["qc1_model_quality_score"].oracle),
)
def ds3_quality_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-CURRICULUM training order (curriculum learning, Bengio
    2009; quality-ascending/descending schedules are standard
    data-ordering ablations): ds1's reproducible shuffle, stratified
    into quality TIERS from qc1's learned margin — every tier-0
    (highest margin-per-token) doc trains before any tier-1 doc, and
    WITHIN a tier the order is exactly ds1's seed-42 shuffle, so the
    curriculum is a block permutation of the baseline order
    (test-pinned: within-tier relative order equals ds1's; global
    order provably differs). Tiers are fixed integer thresholds on
    margin-per-token (220/165/110 — the txt8 straddle rule, ~25% per
    tier at every sf), all-BIGINT cross-multiplications. Orders qc1's
    domain (tokenized docs — token-less docs contribute no training
    tokens and have no order row, txt8's convention).

    Scale shape: the oracle is ONE global row_number over (tier,
    hash); the Spark plan is operators/packing.tiered_shuffle_positions
    — the two-level decomposition with a COMPOSITE (tier, hash-prefix)
    bucket key, so per-bucket windows stay ~n/4096 rows no matter how
    skewed the tier sizes are and the broadcast offset table grows
    only by the tier factor (4 × 4096 rows). No data-sized
    SinglePartition exchange (plan-asserted in tests/test_packing.py).
    A bench line since r11 (~0.7s at sf0.1 — the sp4 precedent: the
    tiered position pass is new work, not a re-run, though qc1's
    margin pass is also priced on its own line)."""
    m = QUERIES["qc1_model_quality_score"].fn(spark, sf_dir)
    t = m.select("doc", _ds3_tier().alias("tier"))
    return pk.tiered_shuffle_positions(
        t, id_col="doc", tier_col="tier", seed=42, shard_size=1000
    )


@query(
    "mx1_temperature_mix",
    sql_temperature_mix("documents"),
)
def mx1_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted (α=0.5, β=1/2) training mix over the
    documents table: per-source integer token budgets ∝ floor(sqrt(T_s))
    and deterministic lowest-hash-first admission until each budget
    fills. Every arithmetic step in the keep decision is BIGINT (see
    operators/sampling.temperature_mix), so the oracle comparison has no
    float accumulation-order hazard; the oracle states the per-source
    running sum as one window, the Spark plan decomposes it by
    16^prefix_chars hash-prefix buckets (default 4096 per source)."""
    docs = load_table(spark, sf_dir, "documents")
    counted = docs.select(
        F.col("doc_id").alias("doc"),
        "source",
        F.size(tx.normalized_words(F.col("text"))).alias("n_tokens"),
    )
    return sampling.temperature_mix(
        counted, key="doc", stratum="source", tokens_col="n_tokens",
        beta_num=1, beta_den=2, salt="mix",
    )


_MX3_SQL = f"""
    WITH ws0 AS (
        SELECT doc_id, source, text, {dd.sql_words("text")} AS ws,
               {sql_hash_split("doc_id")} AS split
        FROM documents
    ),
    sh AS (
        SELECT doc_id, unnest({dd.sql_shingles("ws")}) AS s FROM ws0
    ),
    tg AS (
        SELECT DISTINCT h.s
        FROM sh h JOIN ws0 w ON h.doc_id = w.doc_id
        WHERE w.split = 'val' AND h.s <> ''
    ),
    m AS (
        SELECT h.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tri,
               CAST(SUM(CASE WHEN t.s IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_miss
        FROM sh h LEFT JOIN tg t ON h.s = t.s
        WHERE h.s <> ''
        GROUP BY h.doc_id
    ),
    qd AS (
        SELECT w.doc_id, w.source, w.text,
               COALESCE((10 * m.n_miss) // m.n_tri, 10) AS qb
        FROM ws0 w LEFT JOIN m ON w.doc_id = m.doc_id
    ),
    mix AS ({{mix}})
    SELECT x.doc, x.source, x.n_tokens, q.qb, x.kept
    FROM mix x JOIN qd q ON x.doc = q.doc_id
"""


@query(
    "mx3_surprisal_weighted_mixture",
    _MX3_SQL.format(mix=sql_temperature_mix("qd", "doc_id", order_expr="qb")),
)
def mx3_surprisal_weighted_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMPORTANCE-WEIGHTED mixture (DSIR-lite, Xie et al. 2023;
    VERDICT r8 "Next round" #7): mx1's per-source integer token
    budgets, but admission within a source is no longer quality-blind
    — docs are admitted in (target-miss decile ASC, salted hash, id)
    order, so under the same budgets the mixture prefers docs whose
    n-grams look like a TARGET SAMPLE, the importance-resampling shape
    real training-data pipelines use.

    The importance signal is all-INTEGER (the txt10 surprisal is a
    double — a cross-engine ORDER BY hazard — so the bucket is built
    from counts instead): per doc, the fraction of its word trigrams
    NOT found in the target sample's trigram set, as a decile
    ``qb = (10 * n_miss) // n_tri`` (0 = fully target-like, 10 = no
    trigram overlap or no trigrams at all — short docs COALESCE to the
    back of the queue). The target sample is sp1's 'val' split — the
    stand-in for DSIR's target domain; swapping in any curated target
    corpus keeps the plan. Trigrams are the dedup family's 3-word
    shingles (ONE definition: operators/dedup.exploded_shingles /
    sql_shingles).

    Non-vacuity (the txt8 rule, test-pinned): the admitted set
    DIFFERS from mx1's at sf0.01 — the reorder moves real docs across
    the budget boundary — while per-source admitted token totals stay
    within one doc of mx1's (same budgets, same reservoir semantics).

    Scale shape: the target trigram table is target-sample-sized
    (DSIR's target is a small curated corpus — broadcast-able); the
    miss rollup is one map-side-combined groupBy over the shingle
    explode; the admission cumsum extends mx1's two-level
    decomposition with the bucket as a leading key (the per-source
    offset table grows to ≤ 11 × 4096 metadata rows —
    operators/sampling.temperature_mix's order_col). Oracle = the
    shared sql_temperature_mix builder with the extended ORDER BY,
    exactly as registered for mx1/cp1."""
    docs = load_table(spark, sf_dir, "documents")
    # pinned: sh feeds the target-set build AND the miss rollup under
    # different partitionings (doc vs shingle), which defeats
    # ReuseExchange — without the pin the corpus is tokenized twice
    # (review finding; the banded_pair_eval ONE-tokenize discipline)
    sh = dd.pin_bounded(
        dd.exploded_shingles(docs.select("doc_id", "text"), "doc_id", "text")
    )
    val_ids = (
        sampling.hash_split(docs.select("doc_id"), key="doc_id")
        .filter(F.col("split") == "val")
        .select(F.col("doc_id").alias("doc"))
    )
    tgt = sh.join(val_ids, "doc").select("shingle").distinct()
    m = (
        sh.join(
            tgt.withColumn("_hit", F.lit(True)), "shingle", "left"
        )
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_tri"),
            F.sum(
                F.when(F.col("_hit").isNull(), 1).otherwise(0)
            ).alias("n_miss"),
        )
    )
    qd = (
        docs.select(
            F.col("doc_id").alias("doc"),
            "source",
            F.size(tx.normalized_words(F.col("text"))).alias("n_tokens"),
        )
        .join(m, "doc", "left")
        .select(
            "doc",
            "source",
            "n_tokens",
            F.coalesce(
                F.expr("(10 * n_miss) div n_tri"),
                F.lit(10).cast("long"),
            ).alias("qb"),
        )
    )
    mix = sampling.temperature_mix(
        qd, key="doc", stratum="source", tokens_col="n_tokens",
        beta_num=1, beta_den=2, salt="mix", order_col="qb",
    )
    return mix.join(qd.select("doc", "qb"), "doc").select(
        "doc", "source", "n_tokens", "qb", "kept"
    )


# mx2 constants: plan a 3x-corpus-token run, cap repetition at 3
# epochs. On the near-uniform synthetic sources the sqrt weighting
# puts per-source epochs at 2.8-3.3, so the cap fires for roughly half
# the sources and not the other half — both branches exercised at
# every sf (the txt8 non-vacuity rule).
_MX2_MULT = 3
_MX2_MAX_EPOCHS = 3


def _epoch_budget_sql(pre: str, t_body: str) -> str:
    """mx2's epoch-budget SQL with the token SOURCE as the parameter —
    ONE budget-arithmetic text shared by mx2 (word grain, the default
    body below reproduces mx2's original oracle byte-identically) and
    mx6 (tok1's subword grain): the sqrt weights, the exact
    remainder-splitting division, and the epoch cap can never drift
    between grains (the sql_temperature_mix/tokens_expr convention)."""
    return f"""
    WITH {pre}t AS (
        {t_body}
    ), nz AS (
        SELECT * FROM t WHERE n_tokens > 0
    ), tot AS (
        SELECT source,
               CAST(SUM(n_tokens) AS BIGINT) AS source_tokens,
               CAST(FLOOR(SQRT(CAST(SUM(n_tokens) AS BIGINT))) AS BIGINT)
                   AS isq
        FROM nz GROUP BY source
    ), g AS (
        SELECT CAST(SUM(source_tokens) AS BIGINT) AS total,
               CAST(SUM(isq) AS BIGINT) AS denom
        FROM tot
    ), b AS (
        SELECT source, source_tokens,
               CAST(((total * {_MX2_MULT}) // denom) * isq
                    + (((total * {_MX2_MULT}) % denom) * isq) // denom
                    AS BIGINT) AS budget_tokens
        FROM tot, g
    )
    SELECT source, source_tokens, budget_tokens,
           CAST(LEAST(budget_tokens, {_MX2_MAX_EPOCHS} * source_tokens)
                AS BIGINT) AS capped_tokens,
           CAST((LEAST(budget_tokens, {_MX2_MAX_EPOCHS} * source_tokens)
                 * 1000) // source_tokens AS BIGINT) AS epochs_milli,
           budget_tokens
               > LEAST(budget_tokens, {_MX2_MAX_EPOCHS} * source_tokens)
               AS capped
    FROM b
    """


_MX2_T_BODY = f"""SELECT source, CAST(len({_WORDS_SQL}) AS BIGINT) AS n_tokens
        FROM documents"""


@query("mx2_epoch_budget", _epoch_budget_sql("", _MX2_T_BODY))
def mx2_epoch_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-constrained planning table above mx1: per-source token
    budgets for a {_MX2_MULT}x-corpus training run under the same α=0.5
    temperature weights, with repetition capped at {_MX2_MAX_EPOCHS}
    epochs (Muennighoff et al. 2023) — how oversampled each source is
    and where the cap truncates the budget. All-BIGINT arithmetic
    (operators/sampling.epoch_budget); one groupBy(source) exchange +
    a broadcast 1-row global, no windows."""
    docs = load_table(spark, sf_dir, "documents")
    counted = docs.select(
        "source",
        F.size(tx.normalized_words(F.col("text"))).alias("n_tokens"),
    )
    return sampling.epoch_budget(
        counted, "source", "n_tokens",
        budget_mult=_MX2_MULT, max_epochs=_MX2_MAX_EPOCHS,
    )


mx2_epoch_budget.__doc__ = mx2_epoch_budget.__doc__.format(
    _MX2_MULT=_MX2_MULT, _MX2_MAX_EPOCHS=_MX2_MAX_EPOCHS
)


# ---------------------------------------------------------------------------
# DP4 / MX4 / TOK2 — tokenizer-grain budget twins (VERDICT r11 #2's
# follow-up question, answered by building: every token budget rode
# whitespace-word counts; these re-run the packing and mixture end
# products with tok1's subword counts as the metered quantity, and
# tok2 measures what the grain swap actually changes).
# ---------------------------------------------------------------------------


@query(
    "dp4_subword_packing",
    f"""
    WITH tk AS ({tx.sql_subword_token_counts("documents")}),
    t AS (SELECT doc, n_subword_tokens AS n_tokens FROM tk)
    {sql_pack_chop('t', 'doc', 'doc, n_tokens')}
    """,
)
def dp4_subword_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dp1's concat-and-chop packing with the budget metered in TOK1
    SUBWORD tokens — the grain a training run actually consumes
    (L=2048 means 2048 tokenizer tokens, not 2048 whitespace words;
    a packing manifest built at word grain under-fills every sequence
    by the corpus's subword/word ratio, ~3.7× here: 13 → 48 sequences
    at sf0.01, 488 of 500 docs change first_seq). Same pack_offsets
    two-level prefix-sum operator, same oracle builder (sql_pack_chop)
    — ONLY the n_tokens input changes, which is the point: the grain
    is a parameter of the layout pass, not a new operator. Oracle
    nests tok1's registered SQL (one builder, lockstep).

    Scale shape: dp1's (per-bucket windows + broadcast bucket-offset
    table) stacked on tok1's one token explode + map-side-combined
    count — both already priced on their own bench lines; NOT a bench
    line itself (cp4 precedent: dp1 prices the packing pass, tok1 the
    tokenize pass; this entry re-runs both)."""
    docs = load_table(spark, sf_dir, "documents")
    counted = tx.subword_token_counts(docs, "doc_id", "text").select(
        "doc", F.col("n_subword_tokens").alias("n_tokens")
    )
    return pk.pack_offsets(
        counted, id_col="doc", tokens_col="n_tokens", seq_len=2048,
        bucket_width=256,
    )


_MX4_SQL = f"""
    WITH tk AS ({tx.sql_subword_token_counts("documents")}),
    src AS (
        SELECT d.doc_id, d.source, tk.n_subword_tokens
        FROM documents d JOIN tk ON tk.doc = d.doc_id
    ),
    mix AS ({sql_temperature_mix('src', 'doc_id',
                                 tokens_expr='n_subword_tokens')})
    SELECT doc, source, n_tokens, kept FROM mix
"""


@query("mx4_subword_mix", _MX4_SQL)
def mx4_subword_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mx1's temperature-weighted mixture (α=0.5, β=1/2, salt 'mix')
    with per-source budgets and admission metered in TOK1 SUBWORD
    tokens. Token grain changes BOTH sides of the keep decision — the
    per-source budget (∝ floor(sqrt(Σ subword tokens))) and each
    doc's contribution to the running sum — so sources whose docs
    tokenize long (high subword/word ratio) spend their budget on
    fewer docs. Admission order (salted md5) is grain-independent, so
    any keep-set difference vs mx1 is purely the metric: 2 docs flip
    each way at sf0.01 (tok2 measures this; non-vacuity pinned).
    Domain note: tok1 emits no row for token-less docs and every
    tokenized doc has n_subword_tokens >= n_words >= 1, so the inner
    join keeps mx1's exact nz domain.

    Spark side is sampling.temperature_mix with ``tokens_col`` bound
    to tok1's count — the operator always took the metric as input;
    the oracle side gains the same knob (sql_temperature_mix's
    ``tokens_expr``), default untouched. NOT a bench line (cp4
    precedent: tok1's tokenize pass and mx1's mixture pass are each
    priced on their own lines)."""
    docs = load_table(spark, sf_dir, "documents")
    tk = tx.subword_token_counts(docs, "doc_id", "text")
    counted = docs.select(F.col("doc_id").alias("doc"), "source").join(
        tk, "doc"
    )
    mix = sampling.temperature_mix(
        counted, key="doc", stratum="source",
        tokens_col="n_subword_tokens", beta_num=1, beta_den=2, salt="mix",
    )
    # the operator names the metric column after tokens_col; the
    # mixture contract (mx1/cp1) calls it n_tokens whatever the grain
    return mix.select(
        "doc", "source",
        F.col("n_subword_tokens").alias("n_tokens"), "kept",
    )


@query(
    "tok2_budget_grain_ab",
    None,  # placeholder — rebound just below (nests mx1's and mx4's
    # registered oracles, both defined above in this module)
)
def tok2_budget_grain_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The word-grain vs tokenizer-grain budget A/B — the qc2/dd16
    convention applied to the grain swap dp4/mx4 enable: before a
    pipeline re-meters its mixture in real tokenizer tokens, it reads
    ONE row of integers saying what the swap changes. Joins mx1's and
    mx4's keep verdicts on their (identical) tokenized-doc domain and
    emits the 2×2 agreement table plus the kept-token mass under each
    grain's own metric: n_docs / n_both_keep / n_both_drop /
    n_word_only_keep / n_subword_only_keep / kept_word_tokens (mx1's
    kept mass, word grain) / kept_subword_tokens (mx4's kept mass,
    subword grain). Off-diagonals measured 2 / 2 at sf0.01 — the
    mixture is NEARLY grain-stable on this corpus (the synthetic
    sources tokenize uniformly; skewed real corpora are exactly where
    the table earns its keep). All-BIGINT one-row output, hash-exact.

    Scale shape: two doc-grain unique-keyed verdict columns joined +
    one 1-row aggregate — at 100 TB both verdicts are checkpointed
    columns of the curation table and this is a metadata pass. NOT a
    bench line (cp4 precedent)."""
    w = QUERIES["mx1_temperature_mix"].fn(spark, sf_dir).select(
        "doc", F.col("n_tokens").alias("w_tokens"),
        F.col("kept").alias("w_kept"),
    )
    s = QUERIES["mx4_subword_mix"].fn(spark, sf_dir).select(
        "doc", F.col("n_tokens").alias("s_tokens"),
        F.col("kept").alias("s_kept"),
    )
    both = w.join(s, "doc")
    return both.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(
            (F.col("w_kept") & F.col("s_kept")).cast("bigint")
        ).alias("n_both_keep"),
        F.sum(
            (~F.col("w_kept") & ~F.col("s_kept")).cast("bigint")
        ).alias("n_both_drop"),
        F.sum(
            (F.col("w_kept") & ~F.col("s_kept")).cast("bigint")
        ).alias("n_word_only_keep"),
        F.sum(
            (~F.col("w_kept") & F.col("s_kept")).cast("bigint")
        ).alias("n_subword_only_keep"),
        F.sum(
            F.when(F.col("w_kept"), F.col("w_tokens")).otherwise(F.lit(0))
        ).cast("bigint").alias("kept_word_tokens"),
        F.sum(
            F.when(F.col("s_kept"), F.col("s_tokens")).otherwise(F.lit(0))
        ).cast("bigint").alias("kept_subword_tokens"),
    )


def _bind_tok2_oracle() -> None:
    """tok2 nests mx1's and mx4's registered oracles verbatim — the
    driver's verdict covers both mixtures plus the 2×2 rollup."""
    QUERIES["tok2_budget_grain_ab"].oracle = f"""
    WITH w AS ({QUERIES["mx1_temperature_mix"].oracle}),
    s AS ({_MX4_SQL})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN w.kept AND s.kept THEN 1 ELSE 0 END)
               AS BIGINT) AS n_both_keep,
           CAST(SUM(CASE WHEN NOT w.kept AND NOT s.kept THEN 1 ELSE 0 END)
               AS BIGINT) AS n_both_drop,
           CAST(SUM(CASE WHEN w.kept AND NOT s.kept THEN 1 ELSE 0 END)
               AS BIGINT) AS n_word_only_keep,
           CAST(SUM(CASE WHEN NOT w.kept AND s.kept THEN 1 ELSE 0 END)
               AS BIGINT) AS n_subword_only_keep,
           CAST(SUM(CASE WHEN w.kept THEN w.n_tokens ELSE 0 END)
               AS BIGINT) AS kept_word_tokens,
           CAST(SUM(CASE WHEN s.kept THEN s.n_tokens ELSE 0 END)
               AS BIGINT) AS kept_subword_tokens
    FROM w JOIN s ON w.doc = s.doc
    """


_bind_tok2_oracle()


@query(
    "mx6_subword_epoch_budget",
    _epoch_budget_sql(
        f"tk AS ({tx.sql_subword_token_counts('documents')}),\n    ",
        """SELECT d.source, tk.n_subword_tokens AS n_tokens
        FROM documents d JOIN tk ON tk.doc = d.doc_id""",
    ),
)
def mx6_subword_epoch_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mx2's data-constrained epoch-budget planning table metered in
    TOK1 SUBWORD tokens — the last word-grain budget family closed
    (VERDICT r12 "Next round" #6: dp4 measured the packing manifest
    off by the corpus's ~3.7× subword/word ratio; the multi-epoch
    budget arithmetic was still planned in words). Same
    operators/sampling.epoch_budget pass, same 3×-corpus budget and
    3-epoch cap; ONLY the token metric changes — source_tokens /
    budget_tokens / capped_tokens scale by each source's subword
    ratio, and epochs_milli + the cap verdict move only where sources
    tokenize unevenly (measured before registration: per-source
    subword/word ratios span 3.59–3.71, epochs_milli shifts up to
    ±47‰ and the cap verdict FLIPS on 2 of 20 sources at sf0.01
    (src9/src3) — real planning deltas even on this near-uniform
    corpus; skewed real corpora are where the grain matters, which is
    exactly what this table plans for).
    Oracle = the SAME _epoch_budget_sql text as mx2 with tok1's
    registered-builder CTE as the token source — the budget
    arithmetic cannot drift between grains. Both cap branches occur
    at every sf (mx2's straddle property, re-probed at this grain
    before registration).

    The multi-epoch ORDER at tok grain (the ds5 idea) stays a knob,
    not an entry: epoch_interleave/epoch_membership take the metric
    as input (ds2), dp4 pins the tok-grain thread through packing,
    and this table pins it through the budget arithmetic — an order
    entry would re-prove twice-proved machinery (decision note in
    ARCHITECTURE.md).

    Scale shape: tok1's one token explode + map-side-combined count,
    a doc-grain unique-keyed join, then epoch_budget's one
    groupBy(source) + broadcast 1-row global — no new shuffle class.
    NOT a bench line (cp4 precedent: tok1 and mx2 price the passes)."""
    docs = load_table(spark, sf_dir, "documents")
    tk = tx.subword_token_counts(docs, "doc_id", "text")
    counted = (
        docs.select(F.col("doc_id").alias("doc"), "source")
        .join(tk, "doc")
        .select("source", F.col("n_subword_tokens").alias("n_tokens"))
    )
    return sampling.epoch_budget(
        counted, "source", "n_tokens",
        budget_mult=_MX2_MULT, max_epochs=_MX2_MAX_EPOCHS,
    )


# ds2's MEMBERSHIP CTE chain (budgets → full/frac epochs → reservoir →
# (doc, epoch) appearances), shared verbatim by ds2's and ds4's oracles
# — one membership definition, two orders (operators/sampling.
# epoch_membership is the Spark twin of exactly this chain).
_DS2_MEMBER_CTES = """b AS ({mx2}),
    t AS (
        SELECT doc_id AS doc, source,
               CAST(len({words}) AS BIGINT) AS n_tokens
        FROM documents
    ), nz AS (
        SELECT * FROM t WHERE n_tokens > 0
    ), j AS (
        SELECT nz.doc, nz.source, nz.n_tokens,
               b.capped_tokens // b.source_tokens AS full_e,
               b.capped_tokens % b.source_tokens AS frac
        FROM nz JOIN b ON nz.source = b.source
    ), cum AS (
        SELECT *, CAST(SUM(n_tokens) OVER (
            PARTITION BY source
            ORDER BY md5('epfrac:' || CAST(doc AS VARCHAR)), doc
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS BIGINT) AS c
        FROM j
    ), member AS (
        SELECT doc, source, n_tokens,
               CAST(full_e + CASE WHEN c <= frac THEN 1 ELSE 0 END
                    AS BIGINT) AS ne
        FROM cum
    ), x AS (
        SELECT doc, source, n_tokens,
               CAST(unnest(generate_series(0, ne - 1)) AS BIGINT) AS epoch
        FROM member WHERE ne > 0
    )"""

_DS2_SQL = (
    """
    WITH """
    + _DS2_MEMBER_CTES
    + """
    SELECT doc, source, n_tokens, epoch,
           CAST(ROW_NUMBER() OVER (
               ORDER BY epoch,
                        md5(CAST(epoch AS VARCHAR) || '|'
                            || CAST(doc AS VARCHAR)),
                        doc
           ) - 1 AS BIGINT) AS pos
    FROM x
"""
)


@query(
    "ds2_epoch_order",
    _DS2_SQL.format(
        mx2=QUERIES["mx2_epoch_budget"].oracle, words=_WORDS_SQL
    ),
)
def ds2_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MULTI-EPOCH training order (VERDICT r9 "Next round" #3):
    mx2 plans how many epochs of each source a data-constrained
    {_MX2_MULT}x-budget run sees (capped at {_MX2_MAX_EPOCHS}); this
    entry EMITS the epoch-interleaved (doc, epoch, global position)
    stream a trainer actually consumes — ds1's deterministic shuffle
    replayed per epoch with the EPOCH AS THE SEED, so every epoch is
    a different reproducible order, and the fractional last epoch
    admits docs lowest-hash-first until the per-source remainder
    ``capped_tokens % source_tokens`` fills (temperature_mix's exact
    deterministic-reservoir semantics, not a Bernoulli draw).

    All-integer — positions, epochs, token counts — so the ORDER BY
    and the whole output are hash-exact cross-engine. The oracle
    nests mx2's registered SQL verbatim (the budgets) and states the
    global position as ONE row_number; the Spark plan is
    operators/sampling.epoch_interleave — both global orders in
    two-level decomposed form (per-(source|epoch, hash-prefix)
    windows at full width + broadcast metadata-sized bucket-offset
    tables, never a data-sized SinglePartition exchange — asserted
    in tests/test_sampling.py), with the epoch explode multiplying
    metadata rows by the planned repetition factor only.
    Invariant test: every doc appears exactly ``full`` or ``full+1``
    times per its source's budget, and per-source emitted tokens
    equal ``capped_tokens`` to within one boundary doc
    (tests/test_sampling.py)."""
    counted, budgets = _epoch_counted_budgets(spark, sf_dir)
    return sampling.epoch_interleave(
        counted, key="doc", stratum="source", tokens_col="n_tokens",
        budgets=budgets,
    )



def _epoch_counted_budgets(spark: SparkSession, sf_dir: str):
    """ds2/ds4's shared input stanza: the (doc, source, n_tokens)
    frame plus its mx2-constant epoch budgets — ONE construction so a
    token-metric or budget-parameter change moves both orders in
    lockstep (review finding: the membership BUILDERS were shared in
    r12 but this input stanza was still copy-pasted)."""
    docs = load_table(spark, sf_dir, "documents")
    counted = docs.select(
        F.col("doc_id").alias("doc"),
        "source",
        F.size(tx.normalized_words(F.col("text"))).alias("n_tokens"),
    )
    budgets = sampling.epoch_budget(
        counted, "source", "n_tokens",
        budget_mult=_MX2_MULT, max_epochs=_MX2_MAX_EPOCHS,
    )
    return counted, budgets


ds2_epoch_order.__doc__ = ds2_epoch_order.__doc__.format(
    _MX2_MULT=_MX2_MULT, _MX2_MAX_EPOCHS=_MX2_MAX_EPOCHS
)


_DS4_SQL = (
    """
    WITH """
    + _DS2_MEMBER_CTES
    + """,
    m AS ({qc1}),
    qt AS (
        SELECT doc, CAST("""
    + _DS3_TIER_SQL
    + """ AS BIGINT) AS tier
        FROM m
    )
    SELECT x.doc, x.source, x.n_tokens, x.epoch, qt.tier,
           CAST(ROW_NUMBER() OVER (
               ORDER BY x.epoch, qt.tier,
                        md5(CAST(x.epoch AS VARCHAR) || '|'
                            || CAST(x.doc AS VARCHAR)),
                        x.doc
           ) - 1 AS BIGINT) AS pos
    FROM x JOIN qt ON x.doc = qt.doc
"""
)


@query(
    "ds4_epoch_curriculum",
    _DS4_SQL.format(
        mx2=QUERIES["mx2_epoch_budget"].oracle,
        words=_WORDS_SQL,
        qc1=QUERIES["qc1_model_quality_score"].oracle,
    ),
)
def ds4_epoch_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPOCH CURRICULUM (the HANDOFF r12 designed idea: ds3's quality
    tiers composed with ds2's multi-epoch interleave): the training
    order a data-constrained run consumes when the curriculum RESTARTS
    EVERY EPOCH — the literature-default semantics (curriculum
    schedules are defined per pass; Bengio 2009's staged syllabus
    repeats each stage's ordering discipline, not a single global
    sort). Membership is EXACTLY ds2's: mx2's per-source budgets,
    full epochs plus the lowest-hash-first fractional reservoir (the
    shared _DS2_MEMBER_CTES / operators/sampling.epoch_membership —
    one definition, two orders). Position is epoch-major, then qc1's
    margin-per-token tier (ds3's fixed thresholds via the shared
    _ds3_tier/_DS3_TIER_SQL pair), then ds2's OWN epoch-reseeded
    shuffle hash — so within every (epoch, tier) block the relative
    order equals ds2's within that epoch, making each epoch's
    curriculum a BLOCK PERMUTATION of that epoch's ds2 order
    (test-pinned in tests/test_sampling.py, with ds2's per-doc
    appearance counts re-asserted on the tiered order). All-integer →
    hash-exact; the oracle nests mx2's and qc1's registered SQL
    verbatim and states the position as ONE row_number.

    Scale shape: ds2's membership plan (two-level per-(source,
    hash-prefix) reservoir cumsum) + one doc-grain equi-join to the
    tier table + operators/packing.epoch_tiered_positions — the
    two-level decomposition with the THREE-part composite (epoch,
    tier, hash-prefix) bucket key, so per-bucket windows stay
    ~n/4096 rows under any tier skew and any epoch count while the
    broadcast offset table grows only to epochs × tiers × 4096
    metadata rows (plan-asserted under a deliberately skewed tier in
    tests/test_packing.py). No data-sized SinglePartition
    anywhere."""
    counted, budgets = _epoch_counted_budgets(spark, sf_dir)
    member = sampling.epoch_membership(
        counted, key="doc", stratum="source", tokens_col="n_tokens",
        budgets=budgets,
    )
    m = QUERIES["qc1_model_quality_score"].fn(spark, sf_dir)
    qt = m.select("doc", _ds3_tier().alias("tier"))
    x = member.join(qt, "doc")
    return pk.epoch_tiered_positions(
        x, id_col="doc", epoch_col="epoch", tier_col="tier"
    ).select("doc", "source", "n_tokens", "epoch", "tier", "pos")


@query(
    "dp3_epoch_packing",
    f"""
    WITH x AS ({{ds2}}),
    p AS (
        {sql_pack_chop('x', 'pos', 'doc, source, epoch, pos, n_tokens')}
    )
    SELECT doc, source, epoch, pos, n_tokens,
           start_off, first_seq, last_seq, n_seqs
    FROM p
    """.format(ds2=QUERIES["ds2_epoch_order"].oracle),
)
def dp3_epoch_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PACKED MULTI-EPOCH dataset — the chain a data-constrained
    training run actually materializes, completed: mx2 plans the
    per-source epoch budgets, ds2 emits the epoch-interleaved
    (doc, epoch, position) stream, and this entry chops that stream
    into fixed L=2048 training sequences (dp1's concat-and-chop over
    ds2's POSITION order instead of document order) — one row per
    (doc, epoch) appearance with its global token offset and the
    sequences it spans. Sequence boundaries legitimately cross epoch
    boundaries (the stream is one continuous token tape, exactly how
    packed pretraining shards are written); dp2's every-non-final-
    sequence-holds-2048 invariant holds over the tape and is
    test-pinned at sf0.01, where the multi-epoch stream spans ~40+
    sequences.

    All-integer. ds2's ``pos`` is dense 0..N-1, so it is the ideal
    packing key (pack_offsets' range buckets are perfectly uniform —
    better-conditioned than sparse doc ids). Scale shape: ds2's plan
    + the two-level prefix-sum packing (per-range-bucket windows at
    full width + broadcast metadata-sized offsets, no data-sized
    SinglePartition — operators/packing.pack_offsets) + one join back
    on the dense unique ``pos`` (the cp1 precedent). Oracle nests
    ds2's registered SQL verbatim + the shared sql_pack_chop builder
    that also defines dp1/cp1's packing semantics — a seq_len change
    moves every consumer in lockstep."""
    docs = load_table(spark, sf_dir, "documents")
    counted = docs.select(
        F.col("doc_id").alias("doc"),
        "source",
        F.size(tx.normalized_words(F.col("text"))).alias("n_tokens"),
    )
    budgets = sampling.epoch_budget(
        counted, "source", "n_tokens",
        budget_mult=_MX2_MULT, max_epochs=_MX2_MAX_EPOCHS,
    )
    stream = sampling.epoch_interleave(
        counted, key="doc", stratum="source", tokens_col="n_tokens",
        budgets=budgets,
    )
    packed = pk.pack_offsets(
        stream.select("pos", "n_tokens"),
        id_col="pos", tokens_col="n_tokens", seq_len=2048, bucket_width=256,
    )
    return stream.join(packed.drop("n_tokens"), "pos").select(
        "doc", "source", "epoch", "pos", "n_tokens",
        "start_off", "first_seq", "last_seq", "n_seqs",
    )


@query(
    "sq3_matryoshka_truncate",
    f"""
    WITH s AS (
        SELECT vec_id AS id, list_slice(embedding, 1, 16) AS sl
        FROM embeddings
    ), n AS (
        SELECT id, sl,
               sqrt(list_reduce(
                   list_prepend(0.0, list_transform(
                       sl, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
                   (a, b) -> a + b)) AS norm
        FROM s
    )
    SELECT id, CAST(i - 1 AS BIGINT) AS component,
           CASE WHEN norm > 0 THEN CAST(sl[i] AS DOUBLE) / norm END
               AS value,
           norm
    FROM (
        SELECT id, sl, norm, unnest(generate_series(1, len(sl))) AS i
        FROM n
    )
    """,
)
def sq3_matryoshka_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation (64 → 16 dims, L2-renormalized) — the
    MRL-embedding serving trick: a stored prefix replaces the full
    vector at 4× fewer bytes per ANN probe. One narrow projection, no
    shuffle; bit-exact cross-engine because the norm is the same
    left-fold both engines run (see operators/similarity.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.matryoshka_truncate(emb, "vec_id", "embedding", k=16)


# ---------------------------------------------------------------------------
# PR1 — PageRank centrality over the customer–supplier graph.
# ---------------------------------------------------------------------------

_PR_ITERS = 3


def _pr_iteration_sql(prev: str, cur: str) -> str:
    return f"""{cur} AS (
        SELECT n.id,
               CAST(150000 + (85 * COALESCE(s.csum, 0)) // 100 AS BIGINT)
                   AS rank
        FROM nodes n LEFT JOIN (
            SELECT e.dst,
                   SUM(r.rank // d.outdeg) AS csum
            FROM edges e
            JOIN {prev} r ON e.src = r.id
            JOIN outdeg d ON e.src = d.src
            GROUP BY e.dst
        ) s ON n.id = s.dst
    )"""


@query(
    "pr1_pagerank",
    """
    WITH pairs AS (
        SELECT DISTINCT o_custkey * 2 AS c_id, l_suppkey * 2 + 1 AS s_id
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), edges AS (
        SELECT c_id AS src, s_id AS dst FROM pairs
        UNION ALL
        SELECT s_id AS src, c_id AS dst FROM pairs
    ), outdeg AS (
        SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
    ), nodes AS (
        SELECT DISTINCT src AS id FROM edges
    ), r0 AS (
        SELECT id, CAST(1000000 AS BIGINT) AS rank FROM nodes
    ), """
    + ", ".join(
        _pr_iteration_sql(f"r{i}", f"r{i + 1}") for i in range(_PR_ITERS)
    )
    + f"""
    SELECT id AS node_id,
           CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END
               AS node_type,
           rank AS rank_scaled,
           CAST(rank AS DOUBLE) / 1000000 AS rank
    FROM r{_PR_ITERS}
    """,
)
def pr1_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 power iterations, d = 0.85) over the undirected
    customer–supplier purchase graph: nodes are custkeys (id*2) and
    suppkeys (id*2+1), edges the distinct (customer, supplier) pairs
    that share an order line, expanded to both directions. Widens the
    graph family beyond dd6's connected components to weighted
    centrality — the lineage/influence score a data-curation pipeline
    uses to weight sources.

    All rank arithmetic is scaled-long integer (operators/graph.py
    pagerank): floor-divided contributions and a damped integer update
    make the result bit-identical across engines and partition orders —
    a double-summed rank would diverge from any oracle by float
    addition order. Per iteration the plan is one |E|-shuffle join and
    one groupBy-sum: the Pregel floor. Every node here has outdeg >= 1
    by construction (isolated nodes can't appear in an edge list), so
    the undirected expansion also sidesteps the dangling-mass question
    the operator documents.
    """
    from ..operators.graph import pagerank

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("c_id"),
            (F.col("l_suppkey") * 2 + 1).alias("s_id"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("c_id").alias("src"), F.col("s_id").alias("dst")
    ).union(pairs.select(F.col("s_id").alias("src"), F.col("c_id").alias("dst")))
    ranks = pagerank(edges, iterations=_PR_ITERS, damping_pct=85)
    return ranks.select(
        F.col("id").alias("node_id"),
        F.when(F.col("id") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.col("rank_scaled"),
        (F.col("rank_scaled").cast("double") / 1_000_000).alias("rank"),
    )


# ---------------------------------------------------------------------------
# ii2 — BM25 retrieval on top of ii1's inverted-index statistics.
# ---------------------------------------------------------------------------

_BM25_QUERIES = [
    (1, ["hash", "join"]),
    (2, ["stream", "window", "agg"]),
    (3, ["vector", "scan"]),
    (4, ["customer", "order"]),
    (5, ["spark", "query", "fast"]),
]
_BM25_VALUES_SQL = ", ".join(
    f"({qid}, '{t}')" for qid, terms in _BM25_QUERIES for t in terms
)



def _bm25_sql(
    log_idf: bool,
    k: int = 5,
    with_score: bool = True,
    lucene: bool = False,
    pre: str = "",
    dl_body: str = "SELECT doc_id, len(ws) AS dl FROM ws",
) -> str:
    """DuckDB twin of :func:`_bm25_topk` — ONE definition of the BM25
    oracle text, shared by ii2 (pre-log ratio idf, with score), ii3
    (ln idf, rank only), ii4's candidate stage (ln idf, top-50), and
    ii6's ranking stage (``lucene=True``: ln(1 + ratio), the
    production clamp that keeps idf positive for df > N/2 terms —
    ii6's eval measured the unclamped form ranking every
    high-tf-relevant doc LAST on this stopword-dense corpus), and ii8
    (``dl_body``/``pre``: the document-length CTE as a parameter —
    tok1's subword counts instead of len(ws); defaults reproduce the
    prior text byte-identically)."""
    idf = "((t.n_docs - d.doc_freq + 0.5) / (d.doc_freq + 0.5))"
    if lucene:
        idf = f"ln(1 + {idf})"
    elif log_idf:
        idf = f"ln{idf}"
    score_col = ",\n           score" if with_score else ""
    return f"""
    WITH qterms(query_id, token) AS (VALUES {_BM25_VALUES_SQL}),
    {pre}ws AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
    dl AS ({dl_body}),
    tot AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM dl),
    tok AS (SELECT doc_id, unnest(ws) AS token FROM ws),
    tf AS (
        SELECT token, doc_id, COUNT(*) AS tf
        FROM tok JOIN (SELECT DISTINCT token FROM qterms) t USING (token)
        GROUP BY token, doc_id
    ),
    dfreq AS (SELECT token, COUNT(*) AS doc_freq FROM tf GROUP BY token),
    scored AS (
        SELECT q.query_id, f.doc_id, q.token,
               {idf}
               * ((CAST(f.tf AS DOUBLE) * 2.2)
                  / (f.tf + 1.2 * (0.25 + 0.75 * (CAST(l.dl AS DOUBLE)
                     / (CAST(t.total_len AS DOUBLE) / t.n_docs))))) AS ts
        FROM qterms q
        JOIN tf f USING (token)
        JOIN dfreq d USING (token)
        JOIN dl l ON f.doc_id = l.doc_id
        CROSS JOIN tot t
    ),
    agg AS (
        SELECT query_id, doc_id,
               list_reduce(list_transform(
                   list_sort(list(struct_pack(token := token, s := ts))),
                   x -> x.s), (a, b) -> a + b) AS score
        FROM scored GROUP BY query_id, doc_id
    )
    SELECT query_id, doc_id,
           CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id
           ) AS INT) AS "rank"{score_col}
    FROM agg QUALIFY "rank" <= {int(k)}
    """


def _bm25_relations(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(qterms, tf, tot): the tokenize → broadcast-term-prune →
    (token, doc) count relations every BM25-family consumer starts
    from. tf is pinned so a composition that needs BOTH the ranking
    and the raw term counts (ii6's relevance labels) tokenizes the
    corpus ONCE — the cm1 shared-intermediates discipline; at 100 TB
    this is the checkpointed postings table."""
    docs = load_table(spark, sf_dir, "documents")
    qterms = local_dim(
        spark,
        [(qid, t) for qid, terms in _BM25_QUERIES for t in terms],
        "query_id int, token string",
    )
    words = docs.select("doc_id", dd.normalized_words(F.col("text")).alias("ws"))
    tot = words.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("ws").cast("bigint")).alias("total_len"),
    )
    tok = words.select(
        "doc_id",
        F.size("ws").cast("bigint").alias("dl"),
        F.explode("ws").alias("token"),
    )
    termset = qterms.select("token").distinct()
    tf = dd.pin_bounded(
        tok.join(F.broadcast(termset), "token")
        .groupBy("token", "doc_id")
        .agg(F.count("*").alias("tf"), F.max("dl").alias("dl"))
    )
    return qterms, tf, tot


def _bm25_topk(
    spark: SparkSession,
    sf_dir: str,
    log_idf: bool,
    k: int = 5,
    rels: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    lucene: bool = False,
) -> DataFrame:
    """Shared BM25 machinery behind ii2 (pre-log RSJ idf ratio), ii3
    (true ln idf), ii4's candidate stage (ln idf, k=50), and ii6's
    ranking stage (ln idf, k=10 over shared relations): broadcast
    term-dim prune before the (token, doc) count, dl carried through
    the explode, pinned tf relation, canonical token-order score fold,
    top-k window per query.
    Returns (query_id, doc_id, rank, score)."""
    qterms, tf, tot = rels if rels is not None else _bm25_relations(
        spark, sf_dir
    )
    dfreq = tf.groupBy("token").agg(F.count("*").alias("doc_freq"))
    avgdl = F.col("total_len").cast("double") / F.col("n_docs")
    idf = (
        F.col("n_docs") - F.col("doc_freq") + F.lit(0.5)
    ) / (F.col("doc_freq") + F.lit(0.5))
    if lucene:
        idf = F.log(F.lit(1.0) + idf)
    elif log_idf:
        idf = F.log(idf)
    ts = idf * (
        (F.col("tf").cast("double") * F.lit(2.2))
        / (
            F.col("tf")
            + F.lit(1.2)
            * (
                F.lit(0.25)
                + F.lit(0.75) * (F.col("dl").cast("double") / avgdl)
            )
        )
    )
    scored = (
        tf.join(F.broadcast(qterms), "token")
        .join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(tot))
        .select("query_id", "doc_id", "token", ts.alias("ts"))
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("token"), F.col("ts").alias("s")))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["s"],
        ).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "doc_id", "rank", "score")
    )


@query(
    "ii2_bm25_topk",
    _bm25_sql(log_idf=False, k=5, with_score=True),
)
def ii2_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-SHAPED top-5 retrieval (k1=1.2, b=0.75, pre-log RSJ idf)
    for 5 fixed multi-term queries — the ranking consumer of ii1's
    inverted-index statistics, and the retrieval pass a curation
    pipeline runs for targeted dedup/decontamination or quality-slice
    mining.

    Cross-engine exactness trade, stated precisely: BM25's ln() is the
    one non-portable piece (libm ulps differ — see ii1), so the idf
    term stays the pre-log ratio (N - df + 0.5)/(df + 0.5), built ONLY
    from +,-,*,/ on doubles (each IEEE-correctly-rounded, identical
    operand order both engines). Per TERM this is a monotone transform
    of BM25's idf (rank-equivalent); the per-document SUM of raw
    ratios, however, weights rare terms far more steeply than a sum of
    logs, so MULTI-term rankings can differ from textbook BM25 (a doc
    matching one df=1 term outscores one matching three df=100 terms
    here; ln-BM25 can order them the other way). True BM25 ranking is
    ln(Π ratio^tfn) — recoverable downstream where bit-exactness isn't
    required. The per-document score sums its ≤3 term scores by
    FOLDING IN TOKEN ORDER (array_sort then aggregate) — double
    addition is non-associative, so a canonical fold order is what
    keeps a distributed sum hash-identical to the oracle
    (functions/exact.py rule 2).

    Scale shape: the query-term dim (11 rows) broadcast-prunes the
    token explode BEFORE the (token, doc)-grain count (map-side
    combine; the shuffle never carries non-query tokens), and the
    document length rides THROUGH the explode as a carried column (one
    max() in the same aggregate — dl is constant per doc), so there is
    no doc-grain dl join at all. doc_freq is a token-grain rollup of
    the pinned tf relation (computed once, broadcast back), corpus
    stats are one scalar crossJoin. Top-5 via one window per query_id
    partition (5 partitions, each bounded by the candidate-doc
    count)."""
    return _bm25_topk(spark, sf_dir, log_idf=False)


@query(
    "ii3_bm25_log_idf",
    _bm25_sql(log_idf=True, k=5, with_score=False),
)
def ii3_bm25_log_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE BM25 top-5 (k1=1.2, b=0.75, Robertson-Spärck Jones log idf
    ``ln((N - df + 0.5)/(df + 0.5))``) over the same 5 fixed queries —
    the textbook multi-term ranking ii2 deliberately trades away (ii2
    sums pre-log ratios for bit-exact doubles; that weights rare terms
    more steeply, so a user asking for "BM25" could get a different
    multi-term order there — this entry is the standard one).

    The driver checks the RANKING, not the scores: the oracle emits
    (query_id, doc_id, rank) only, because ``ln`` is the one
    non-portable operation (libm ulps differ across engines — the
    documented ii1/ii2 trade). Rank equality is still a strong check —
    a 1-ulp ln divergence flips an order only if two docs' scores
    coincide to ~1e-15 relative, which on distinct (tf, dl, df) stats
    does not occur, and docs with IDENTICAL stats tie exactly in both
    engines and fall to the doc_id tie-break. Score parity itself is
    asserted cross-engine at 1e-9 relative tolerance in
    tests/test_textops.py.

    Scale shape identical to ii2 (same broadcast term-dim prune,
    carried dl, pinned tf relation, canonical token-order score fold);
    only the idf transform differs."""
    return _bm25_topk(spark, sf_dir, log_idf=True).drop("score")


def _sql_prf_rerank(cand_sql: str) -> str:
    """ii4's PRF chain over ANY candidate ranking emitting
    (query_id, doc_id, rank) — ONE definition feeds ii4 (the raw-ln
    base it registers) and ii7's clamped-base fusion side."""
    return f"""
    WITH cand AS ({cand_sql}),
    emb AS (SELECT vec_id AS doc_id, embedding FROM embeddings),
    fb AS (
        SELECT c.query_id, c.doc_id, e.embedding
        FROM cand c JOIN emb e USING (doc_id) WHERE c."rank" <= 5
    ),
    fbl AS (
        SELECT query_id,
               list_sort(list(struct_pack(doc_id := doc_id,
                                          v := embedding))) AS fbv
        FROM fb GROUP BY query_id
    ),
    cent AS (
        SELECT query_id,
               list_transform(generate_series(1, len(fbv[1].v)),
                   i -> list_reduce(list_prepend(0.0, list_transform(fbv,
                            s -> CAST(s.v[i] AS DOUBLE))), (x, y) -> x + y)
                        / len(fbv)) AS c_vec
        FROM fbl
    ),
    rr AS (
        SELECT c.query_id, c.doc_id, c."rank" AS bm25_rank,
               CASE WHEN {_NORM_SQL.format(a='n.c_vec')} > 0
                     AND {_NORM_SQL.format(a='e.embedding')} > 0
                    THEN {_DOT_SQL.format(a='n.c_vec', b='e.embedding')}
                         / ({_NORM_SQL.format(a='n.c_vec')}
                            * {_NORM_SQL.format(a='e.embedding')})
               END AS prf_cos
        FROM cand c
        LEFT JOIN emb e USING (doc_id)
        LEFT JOIN cent n USING (query_id)
    )
    SELECT query_id, doc_id, bm25_rank, prf_cos,
           CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY prf_cos DESC NULLS LAST, bm25_rank, doc_id
           ) AS INT) AS rank
    FROM rr
    """


@query(
    "ii4_prf_rerank",
    _sql_prf_rerank(_bm25_sql(log_idf=True, k=50, with_score=False)),
)
def ii4_prf_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+embedding retrieval via Rocchio pseudo-relevance
    feedback — the RAG-serving composition (HANDOFF_r08 / VERDICT r7
    "Next round" #3): per query, ii3's TRUE-BM25 ranking supplies the
    top-50 candidates, the centroid of the top-5's embeddings is the
    feedback vector, and the candidates are re-ranked by cosine to that
    centroid. Output (query_id, doc_id, bm25_rank, prf_cos, rank), one
    row per surviving candidate.

    Exactness: the BM25 stage contributes only RANKS (discrete — the
    ii3 ln-ulp argument); everything downstream is deterministic IEEE
    arithmetic with pinned fold orders, so prf_cos is hash-exact: the
    centroid folds each component over the feedback vectors in doc_id
    order with an explicit 0.0 seed (list_prepend / F.aggregate init —
    same bracketing both engines), and dot/norms are the ann1
    left-to-right folds. Candidates without an embedding row (the
    driver's sf0.1 has vectors for 2000 of 5000 docs) or with a
    zero-norm vector get prf_cos = NULL and fall to the BOTTOM in
    original BM25 order (DESC NULLS LAST, bm25_rank, doc_id) — the
    serving behavior you want when the ANN index lags the corpus.

    Scale shape: the candidate join carries (query_id, doc_id, rank) —
    never full vectors; embeddings attach only to candidate rows
    (≤ 50 × |Q|) via a doc_id-grain join, and the per-query feedback
    collect is ≤ 5 bounded vectors (the HOF centroid fold runs on
    |Q| rows, not the corpus). One window per query partition for the
    final rank, same as ii2/ii3."""
    cand = dd.pin_bounded(_bm25_topk(spark, sf_dir, log_idf=True, k=50))
    return _prf_rerank(spark, sf_dir, cand)


def _prf_rerank(
    spark: SparkSession, sf_dir: str, cand: DataFrame
) -> DataFrame:
    """ii4's PRF plan over an injected (pinned) candidate ranking —
    the Spark twin of :func:`_sql_prf_rerank`."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    fb = (
        cand.filter(F.col("rank") <= 5)
        .select("query_id", "doc_id")
        .join(emb, "doc_id")
    )
    fbl = fb.groupBy("query_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("doc_id"), F.col("embedding").alias("v"))
            )
        ).alias("fbv")
    )
    cent = fbl.select(
        "query_id",
        F.transform(
            F.sequence(F.lit(1), F.size(F.element_at(F.col("fbv"), 1)["v"])),
            lambda i: F.aggregate(
                F.col("fbv"),
                F.lit(0.0),
                lambda acc, s: acc + F.element_at(s["v"], i).cast("double"),
            )
            / F.size(F.col("fbv")),
        ).alias("c_vec"),
    )
    c_norm = sim.norm(F.col("c_vec"))
    e_norm = sim.norm(F.col("embedding"))
    rr = (
        cand.withColumnRenamed("rank", "bm25_rank")
        .join(emb, "doc_id", "left")
        .join(cent, "query_id", "left")
        .select(
            "query_id",
            "doc_id",
            "bm25_rank",
            F.when(
                (c_norm > 0) & (e_norm > 0),
                sim.dot(F.col("c_vec"), F.col("embedding"))
                / (c_norm * e_norm),
            ).alias("prf_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("prf_cos").desc_nulls_last(),
        F.col("bm25_rank").asc(),
        F.col("doc_id").asc(),
    )
    return rr.withColumn("rank", F.row_number().over(w).cast("int"))


_II5_SQL = """
    WITH i4 AS ({ii4})
    SELECT query_id, doc_id, bm25_rank,
           CASE WHEN prf_cos IS NOT NULL THEN rank END AS cos_rank,
           1.0 / (60 + bm25_rank)
               + CASE WHEN prf_cos IS NOT NULL
                      THEN 1.0 / (60 + rank) ELSE 0.0 END AS rrf_score,
           CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY 1.0 / (60 + bm25_rank)
                   + CASE WHEN prf_cos IS NOT NULL
                          THEN 1.0 / (60 + rank) ELSE 0.0 END DESC,
                   doc_id
           ) AS INT) AS rank
    FROM i4
    """


@query(
    "ii5_rrf_fusion",
    # ii4 is registered just above in this module, so the lookup is
    # import-order-safe (cm1/cp1 precedent in star_manifest)
    _II5_SQL.format(ii4=QUERIES["ii4_prf_rerank"].oracle),
)
def ii5_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (k=60, the Cormack/Clarke/Büttcher
    constant) of the two rankings ii4 produces per candidate: the
    lexical BM25 rank and the semantic PRF-cosine rank — the standard
    hybrid-search fusion a RAG stack runs when it has both a keyword
    index and a vector index over the same corpus.

        rrf(d) = 1/(60 + rank_bm25(d)) + 1/(60 + rank_cos(d))

    with the cosine term dropped for candidates that have no embedding
    (ii4's NULL-prf_cos rows) — they keep their lexical contribution
    only, the degradation you want when the vector index lags the
    corpus. ii4's final rank restricted to non-NULL prf_cos rows IS
    the cosine rank (NULLs sort after every number there), so no
    re-ranking pass is needed.

    Exactness: both inputs are discrete ranks; each RRF term is one
    int→double division and the sum is a fixed-order two-term add —
    hash-exact, no ln anywhere. Ties (two docs sharing both ranks are
    impossible; equal SUMS across different rank pairs are possible —
    e.g. swapped ranks) break on doc_id in both engines.

    Scale shape: a pure column map over ii4's candidate rows
    (≤ 50 × |Q|) plus one window per query partition — the fusion adds
    no join and no corpus-sized stage. The oracle nests ii4's
    registered SQL verbatim, so the driver's verdict covers the
    composed lexical + semantic + fusion chain end-to-end."""
    return _rrf_fuse(QUERIES["ii4_prf_rerank"].fn(spark, sf_dir))


def _rrf_fuse(i4: DataFrame) -> DataFrame:
    """ii5's RRF step over any ii4-shaped relation (query_id, doc_id,
    bm25_rank, prf_cos, rank) — factored so ii7 fuses the clamped-base
    variant through the identical code path."""
    rrf = F.lit(1.0) / (F.lit(60) + F.col("bm25_rank")) + F.when(
        F.col("prf_cos").isNotNull(),
        F.lit(1.0) / (F.lit(60) + F.col("rank")),
    ).otherwise(F.lit(0.0))
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc()
    )
    return (
        i4.select(
            "query_id",
            "doc_id",
            "bm25_rank",
            F.when(F.col("prf_cos").isNotNull(), F.col("rank"))
            .cast("int")
            .alias("cos_rank"),
            rrf.alias("rrf_score"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
    )


# relevance proxy for ii6: a doc is relevant to a query iff it contains
# EVERY query term at least _II6_MIN_TF times ("strongly about all the
# terms"). min_tf=1 labels ~60% of the synthetic corpus relevant per
# query (saturated metrics — the txt8 vacuity lesson in the other
# direction); min_tf=3 lands at 4-13%, a label set the ranking can
# actually miss.
_II6_MIN_TF = 3


def _sql_retrieval_eval(ranking_sql: str) -> str:
    """ii6's label + metric CTE chain over ANY ranking relation
    emitting (query_id, doc_id, rank) — ONE definition feeds ii6
    (lexical) and ii7's per-mode subqueries, so a label or metric
    change cannot desynchronize the A/B comparison from the base
    harness."""
    return f"""
    WITH bm AS ({ranking_sql}),
    qterms(query_id, token) AS (VALUES {_BM25_VALUES_SQL}),
    qn AS (
        SELECT query_id, COUNT(DISTINCT token) AS n_terms
        FROM qterms GROUP BY query_id
    ),
    tok AS (
        SELECT doc_id, unnest({_WORDS_SQL}) AS token FROM documents
    ),
    tfq AS (
        SELECT t.doc_id, t.token, COUNT(*) AS c
        FROM tok t JOIN (SELECT DISTINCT token FROM qterms) s USING (token)
        GROUP BY 1, 2
    ),
    relm AS (
        SELECT q.query_id, t.doc_id, COUNT(DISTINCT t.token) AS m
        FROM qterms q JOIN tfq t USING (token)
        WHERE t.c >= {_II6_MIN_TF}
        GROUP BY 1, 2
    ),
    rel AS (
        SELECT r.query_id, r.doc_id
        FROM relm r JOIN qn USING (query_id)
        WHERE r.m = qn.n_terms
    ),
    nrel AS (SELECT query_id, COUNT(*) AS n_rel FROM rel GROUP BY query_id),
    hits AS (
        SELECT b.query_id,
               SUM(CASE WHEN r.doc_id IS NOT NULL AND b."rank" <= 5
                        THEN 1 ELSE 0 END) AS hits_at_5,
               SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                   AS hits_at_10,
               MIN(CASE WHEN r.doc_id IS NOT NULL THEN b."rank" END)
                   AS first_rel_rank
        FROM bm b
        LEFT JOIN rel r ON b.query_id = r.query_id AND b.doc_id = r.doc_id
        GROUP BY b.query_id
    )
    SELECT q.query_id,
           CAST(COALESCE(n.n_rel, 0) AS BIGINT) AS n_rel,
           CAST(COALESCE(h.hits_at_5, 0) AS BIGINT) AS hits_at_5,
           CAST(COALESCE(h.hits_at_10, 0) AS BIGINT) AS hits_at_10,
           h.first_rel_rank
    FROM (SELECT DISTINCT query_id FROM qterms) q
    LEFT JOIN nrel n USING (query_id)
    LEFT JOIN hits h USING (query_id)
    """


@query(
    "ii6_retrieval_eval",
    _sql_retrieval_eval(
        _bm25_sql(log_idf=True, k=10, with_score=False, lucene=True)
    ),
)
def ii6_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval EVALUATION harness: per-query IR quality metrics of a
    BM25 top-10 ranking against an in-corpus relevance proxy — the
    measurement layer a RAG/data pipeline runs after every index or
    ranking change. The ranking uses the LUCENE idf clamp
    ln(1 + (N-df+0.5)/(df+0.5)) rather than ii3's raw ln: building
    this harness measured the raw form at ZERO hits on all five
    queries — every query term here has df > N/2, so unclamped idf
    goes negative and BM25 ranks the high-tf (relevant) docs LAST.
    That is the textbook negative-idf pathology, the clamp is the
    production fix (Lucene's formula), and the before/after is pinned
    in tests/test_textops.py — an eval harness that catches a real
    ranking bug on first contact is the point of having one.
    Labels: a doc is relevant iff it contains
    every query term >= {min_tf}x (see _II6_MIN_TF note). Output per
    query: n_rel (label-set size), hits_at_5 / hits_at_10 (numerators
    of precision@k and, against n_rel, recall@k), first_rel_rank (the
    MRR numerator's rank; NULL when the top-10 misses the label set
    entirely). All-integer, hash-exact by design — the float forms
    (precision@k = hits/k, recall@k = hits/n_rel, MRR = 1/first_rank)
    are one exact division away from these integers, so nothing
    float-shaped needs a loosened compare (the ii3/txt10 discipline);
    tests/test_textops.py re-derives the metrics with a pure-python
    reference over the same ranking + label definition.

    Scale shape: ONE tokenize feeds both the ranking and the labels —
    _bm25_relations' pinned tf relation (the checkpointed postings
    table at 100 TB) is reused by the BM25 stage and filtered to
    tf >= {min_tf} for the label join; everything else is query-grain
    metadata (broadcast qterms, |Q| x k candidate rows)."""
    qterms, tf, tot = _bm25_relations(spark, sf_dir)
    bm = _bm25_topk(
        spark, sf_dir, log_idf=True, k=10, rels=(qterms, tf, tot),
        lucene=True,
    )
    qterms, rel, nrel = _retrieval_labels(qterms, tf)
    return _eval_ranking(bm, qterms, rel, nrel)


ii6_retrieval_eval.__doc__ = ii6_retrieval_eval.__doc__.format(
    min_tf=_II6_MIN_TF
)


def _retrieval_labels(qterms: DataFrame, tf: DataFrame):
    """(qterms, rel, nrel): ii6's relevance proxy — relevant iff the doc
    contains every query term >= _II6_MIN_TF times — derived from the
    SAME pinned tf relation the rankings consume (one tokenize)."""
    qn = qterms.groupBy("query_id").agg(
        F.count_distinct("token").alias("n_terms")
    )
    relm = (
        tf.filter(F.col("tf") >= _II6_MIN_TF)
        .join(F.broadcast(qterms), "token")
        .groupBy("query_id", "doc_id")
        .agg(F.count_distinct("token").alias("m"))
    )
    rel = (
        relm.join(F.broadcast(qn), "query_id")
        .filter(F.col("m") == F.col("n_terms"))
        .select("query_id", "doc_id")
        .withColumn("_rel", F.lit(True))
    )
    nrel = rel.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("n_rel")
    )
    return qterms, rel, nrel


def _eval_ranking(
    ranking: DataFrame, qterms: DataFrame, rel: DataFrame, nrel: DataFrame
) -> DataFrame:
    """Per-query integer metrics of a (query_id, doc_id, rank) relation
    against the shared label set — ii6's metric block, factored so ii7
    evaluates each ranking mode through the identical code path."""
    hits = (
        ranking.join(rel, ["query_id", "doc_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when(F.col("_rel").isNotNull() & (F.col("rank") <= 5), 1)
                .otherwise(0)
            ).cast("bigint").alias("hits_at_5"),
            F.sum(F.when(F.col("_rel").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("hits_at_10"),
            F.min(F.when(F.col("_rel").isNotNull(), F.col("rank"))).alias(
                "first_rel_rank"
            ),
        )
    )
    return (
        qterms.select("query_id")
        .distinct()
        .join(nrel, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_rel"), F.lit(0)).cast("bigint").alias("n_rel"),
            F.coalesce(F.col("hits_at_5"), F.lit(0))
            .cast("bigint")
            .alias("hits_at_5"),
            F.coalesce(F.col("hits_at_10"), F.lit(0))
            .cast("bigint")
            .alias("hits_at_10"),
            "first_rel_rank",
        )
    )


@query(
    "ii7_fusion_eval",
    f"""
    SELECT 'lexical' AS mode, * FROM (
        {_sql_retrieval_eval(
            _bm25_sql(log_idf=True, k=10, with_score=False, lucene=True)
        )}
    )
    UNION ALL
    SELECT 'fusion' AS mode, * FROM (
        {{fusion_eval}}
    )
    """,
)
def ii7_fusion_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measured A/B a ranking change ships with: ii6's metrics for
    TWO systems on the SAME label set — 'lexical' (the Lucene-clamped
    BM25 top-10 ii6 grades) vs 'fusion' (the ii4→ii5 PRF + RRF chain
    built on the SAME clamped top-50 base, cut to top-10). Both modes
    share ONE metric code path (_eval_ranking) and ONE label/metric
    SQL builder (_sql_retrieval_eval); the fusion side reuses ii4/ii5's
    own builders (_prf_rerank/_rrf_fuse, _sql_prf_rerank/_II5_SQL)
    parameterized by the clamped candidates — a fair A/B holds the
    lexical base fixed and varies only the fusion.

    The first cut of this entry fused over ii5's REGISTERED raw-ln
    base and scored ZERO hits on every query — not a fusion property
    but ii6's negative-idf pathology propagating through the candidate
    set (df > N/2 terms rank relevant docs last, so the top-50 never
    contains them and no re-ranking can recover). The harness catching
    a pipeline wiring hazard — evaluating a ranker on one idf variant
    while serving another — is exactly its job; the clamped-base
    comparison below is pinned non-degenerate in tests. On the
    synthetic corpus the embedding space is independent of the text,
    so fusion trades positions rather than dominating (the rf2/rf6
    worst-case-regime convention applied to retrieval); a corpus with
    text-correlated vectors is where fusion pulls ahead, and this
    entry is the instrument that would show it."""
    qterms, tf, tot = _bm25_relations(spark, sf_dir)
    qterms, rel, nrel = _retrieval_labels(qterms, tf)
    bm = dd.pin_bounded(
        _bm25_topk(
            spark, sf_dir, log_idf=True, k=50, rels=(qterms, tf, tot),
            lucene=True,
        )
    )
    lex10 = bm.filter(F.col("rank") <= 10).select(
        "query_id", "doc_id", "rank"
    )
    fusion = (
        _rrf_fuse(_prf_rerank(spark, sf_dir, bm))
        .filter(F.col("rank") <= 10)
        .select("query_id", "doc_id", "rank")
    )
    lex = _eval_ranking(lex10, qterms, rel, nrel)
    fus = _eval_ranking(fusion, qterms, rel, nrel)
    mode = lambda df, m: df.select(  # noqa: E731
        F.lit(m).alias("mode"), "*"
    )
    return mode(lex, "lexical").unionByName(mode(fus, "fusion"))


# rebind ii7's oracle: the fusion side nests ii4/ii5's own builders
# over the CLAMPED candidate SQL (import-order-safe — both builders
# are defined above in this module; dd13/cm1 precedent)
_II7_CLAMPED_CAND = _bm25_sql(
    log_idf=True, k=50, with_score=False, lucene=True
)
QUERIES["ii7_fusion_eval"].oracle = QUERIES["ii7_fusion_eval"].oracle.format(
    fusion_eval=_sql_retrieval_eval(
        f'SELECT query_id, doc_id, "rank" FROM ('
        + _II5_SQL.format(ii4=_sql_prf_rerank(_II7_CLAMPED_CAND))
        + f') WHERE "rank" <= 10'
    )
)


@query(
    "ii8_subword_bm25_topk",
    _bm25_sql(
        log_idf=False,
        k=5,
        with_score=True,
        pre=f"tk AS ({tx.sql_subword_token_counts('documents')}),\n    ",
        dl_body="SELECT doc AS doc_id, n_subword_tokens AS dl FROM tk",
    ),
)
def ii8_subword_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 with LENGTH NORMALIZATION AT THE TOKENIZER GRAIN — the
    retrieval side of the r12/r13 grain program (dp4 re-metered
    packing, mx4/mx6 the mixtures/budgets; BM25's b·dl/avgdl penalty
    was the last consumer still normalizing by whitespace words).
    Same queries, same term matching, same pre-log RSJ idf and
    canonical token-order fold as ii2 — ONLY dl/avgdl (and their
    n_docs domain) come from tok1's subword counts, exactly what a
    pipeline that budgets in tokenizer tokens should also rank with.

    DECIDED BY MEASUREMENT, not presumption (the ds5 discipline —
    HANDOFF r13 guessed this was "probably a knob"): the probe said
    otherwise — 0/5 queries keep their top-10 ORDER at either sf,
    7/25 top-5 positions change at sf0.01 and 14/25 at sf0.1, because
    per-doc subword/word ratios vary enough (3.59–3.71 across sources,
    wider per doc) to reorder the length penalty even on this
    near-uniform corpus. A ranking consumer switching budget grains
    silently changes its rankings; this entry pins by how much.

    Oracle = the SAME _bm25_sql text as ii2 with the dl CTE bound to
    tok1's registered builder (dl_body/pre parameters, ii2–ii7 texts
    byte-identical after the refactor — asserted). Domain note: dl
    (and n_docs/total_len) range over TOKENIZED docs (tok1 emits no
    row for token-less docs); scoring is unaffected — a token-less
    doc can never match a term — and the pre-log idf shifts only if
    the corpus carries token-less docs.

    Scale shape: ii2's exactly (broadcast term-dim prune before the
    (token, doc) count, pinned tf, one top-k window per query) plus
    tok1's one token explode + map-side-combined count and a
    doc-grain unique-keyed dl join. NOT a bench line (cp4 precedent:
    ii2 prices the ranking pass, tok1 the tokenize pass)."""
    qterms, tf, _ = _bm25_relations(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    sub = tx.subword_token_counts(docs, "doc_id", "text")
    tf_sub = tf.drop("dl").join(
        sub.select(
            F.col("doc").alias("doc_id"),
            F.col("n_subword_tokens").alias("dl"),
        ),
        "doc_id",
    )
    tot_sub = sub.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_subword_tokens").cast("bigint").alias("total_len"),
    )
    return _bm25_topk(
        spark, sf_dir, log_idf=False, k=5, rels=(qterms, tf_sub, tot_sub)
    )


# ---------------------------------------------------------------------------
# ann4 — sign-projection LSH with an exact oracle (the ANN analog of
# dc2's portable-MinHash upgrade: ann2's Gaussian hyperplanes are
# engine-side and rows-only; md5-derived ±1 planes bake into BOTH the
# Spark plan and the SQL text, so the banded ANN join is hash-checked).
# ---------------------------------------------------------------------------

_ANN4_PLANES = sim.portable_sign_planes(dim=64, n_planes=16)
_ANN4_BANDS = 4


def _ann4_oracle() -> str:
    r = len(_ANN4_PLANES) // _ANN4_BANDS

    def proj_sql(p: int) -> str:
        lits = ", ".join(str(s) for s in _ANN4_PLANES[p])
        return (
            "list_reduce(list_transform(list_zip(embedding, "
            f"[{lits}]), s -> CAST(s[1] AS DOUBLE) * s[2]), (a, b) -> a + b)"
        )

    def band_sql(b: int) -> str:
        bits = " || ".join(
            f"(CASE WHEN {proj_sql(b * r + j)} >= 0 THEN '1' ELSE '0' END)"
            for j in range(r)
        )
        return f"({bits}) AS band{b}"

    bands = ", ".join(band_sql(b) for b in range(_ANN4_BANDS))
    band_match = " OR ".join(
        f"q.band{b} = c.band{b}" for b in range(_ANN4_BANDS)
    )
    nrm = _NORM_SQL.format(a="embedding")
    dot = _DOT_SQL.format(a="q_vec", b="n_vec")
    return f"""
    WITH sp AS (
        SELECT vec_id, embedding, {nrm} AS nrm, {bands}
        FROM embeddings
        WHERE {nrm} > 0
    ), q AS (
        SELECT * FROM sp WHERE vec_id < 10
    ), cand AS (
        SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id,
               q.embedding AS q_vec, c.embedding AS n_vec,
               q.nrm AS q_norm, c.nrm AS n_norm
        FROM q JOIN sp c
          ON ({band_match}) AND q.vec_id <> c.vec_id
    ), scored AS (
        SELECT q_id, n_id, {dot} / (q_norm * n_norm) AS cos_sim
        FROM cand
    ), ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY cos_sim DESC, n_id ASC
        ) AS rank
        FROM scored
    )
    SELECT q_id, n_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """


@query("ann4_portable_lsh_topk", _ann4_oracle())
def ann4_portable_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-projection LSH ANN top-5 (16 md5-derived ±1 planes, 4 bands
    × 4 bits) for vec_id < 10 — ann2's scale shape with ann1's
    checkability. Unlike ann2 (Gaussian hyperplanes drawn engine-side →
    rows-only + rf1 recall floor), the ±1 plane matrix here is a pure
    function of md5 (operators/similarity.portable_sign_planes), baked
    as literals into both this plan and the oracle SQL, so the DRIVER
    hash-checks the full banded-candidate + exact-cosine-re-rank
    pipeline. Scale shape: one projection pass per vector (16
    deterministic folds, queries share the corpus pass), candidate
    equi-join on (band, bucket) carrying ids only, vectors re-join
    after pair dedup, one window for the top-5."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.sign_lsh_topk(
        queries, emb, _ANN4_PLANES, "vec_id", "embedding",
        bands=_ANN4_BANDS, k=5,
    )


@query(
    "ann5_ivfpq_topk",
    f"""
    WITH hc AS (
        SELECT vec_id, embedding,
               md5('ann3:' || CAST(vec_id AS VARCHAR)) AS hh
        FROM embeddings
    ), cent AS (
        SELECT embedding AS c_vec,
               CAST(row_number() OVER (ORDER BY hh) AS INTEGER) - 1 AS cell
        FROM hc ORDER BY hh LIMIT 16
    ), hp AS (
        SELECT vec_id, embedding,
               md5('sq2:' || CAST(vec_id AS VARCHAR)) AS hh
        FROM embeddings
    ), pqc AS (
        SELECT embedding AS p_vec,
               CAST(row_number() OVER (ORDER BY hh) AS INTEGER) - 1 AS code
        FROM hp ORDER BY hh LIMIT 16
    ), base AS (
        SELECT vec_id, embedding, {_NORM_SQL.format(a='embedding')} AS nrm
        FROM embeddings
        WHERE {_NORM_SQL.format(a='embedding')} > 0
    ), dots AS (
        SELECT b.vec_id, b.embedding, b.nrm, c.cell,
               {_DOT_SQL.format(a='b.embedding', b='c.c_vec')} AS dot
        FROM base b CROSS JOIN cent c
    ), rc AS (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY dot DESC, cell ASC
        ) AS cr
        FROM dots
    ), corp AS (
        SELECT vec_id AS n_id, cell FROM rc WHERE cr = 1
    ), sub AS (
        SELECT b.vec_id, CAST(g.s AS INT) AS subspace,
               list_slice(b.embedding, g.s * 8 + 1, g.s * 8 + 8) AS sl
        FROM base b
        CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) g
    ), serr AS (
        SELECT sub.vec_id, sub.subspace, p.code,
               {_L2_SQL.format(
                   a='sub.sl',
                   b='list_slice(p.p_vec, sub.subspace * 8 + 1, '
                     'sub.subspace * 8 + 8)',
               )} AS err2
        FROM sub CROSS JOIN pqc p
    ), bestc AS (
        SELECT vec_id, subspace, code FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, subspace ORDER BY err2 ASC, code ASC
            ) AS rn
            FROM serr
        ) WHERE rn = 1
    ), probes AS (
        SELECT vec_id AS q_id, embedding AS q_vec, cell
        FROM rc WHERE vec_id < 10 AND cr <= 4
    ), cand AS (
        SELECT p.q_id, p.q_vec, c.n_id
        FROM probes p JOIN corp c
          ON p.cell = c.cell AND c.n_id <> p.q_id
    ), adcrows AS (
        SELECT cd.q_id, cd.n_id, bc.subspace,
               {_L2_SQL.format(
                   a='list_slice(cd.q_vec, bc.subspace * 8 + 1, '
                     'bc.subspace * 8 + 8)',
                   b='list_slice(p.p_vec, bc.subspace * 8 + 1, '
                     'bc.subspace * 8 + 8)',
               )} AS d2
        FROM cand cd
        JOIN bestc bc ON bc.vec_id = cd.n_id
        JOIN pqc p ON p.code = bc.code
    ), adc AS (
        SELECT q_id, n_id,
               list_reduce(list_transform(
                   list_sort(list(struct_pack(s := subspace, d := d2))),
                   x -> x.d), (a, b) -> a + b) AS adc
        FROM adcrows GROUP BY q_id, n_id
    ), topr AS (
        SELECT q_id, n_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY q_id ORDER BY adc ASC, n_id ASC
            ) AS rr
            FROM adc
        ) WHERE rr <= 100
    ), rer AS (
        SELECT t.q_id, t.n_id,
               {_DOT_SQL.format(a='q.embedding', b='nb.embedding')}
                   / (q.nrm * nb.nrm) AS cos_sim
        FROM topr t
        JOIN base q ON q.vec_id = t.q_id
        JOIN base nb ON nb.vec_id = t.n_id
    )
    SELECT q_id, n_id, cos_sim, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY cos_sim DESC, n_id ASC
        ) AS rank
        FROM rer
    ) WHERE rank <= 5
    """,
    eager=True,  # codebook/centroid draw collects at construction
)
def ann5_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with exact refine (FAISS's IVFPQ+refine serving path) for
    vec_id < 10: ann3's portable coarse cells (salt 'ann3') bound which
    corpus slice is touched, sq2's portable PQ codes (salt 'sq2') give
    each candidate an 8-byte ADC distance, the top-100 ADC candidates
    re-rank by exact cosine. The candidate join carries (id, cell,
    8 codes) — never vectors — which is the property that makes
    quantized ANN the only option at 100 TB. Everything (both
    codebooks, cell/code tie-breaks, the subspace-ordered ADC fold,
    the refine cut, the final rank) is engine-portable, so this is the
    quantized-search family's first END-TO-END hash-checked entry;
    recall vs ann1 is additionally floored by rf10."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.ivfpq_topk(queries, emb, "vec_id", "embedding", k=5)


@query(
    "dd9_portable_simhash_pairs",
    dd.sql_portable_simhash_pairs("documents"),
)
def dd9_portable_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with an EXACT oracle — dd4's banding shape
    rebuilt on md5 + integer votes (operators/dedup.
    portable_simhash_pairs: 32-bit fingerprint, 4 byte-wide bands, Hamming
    <= 3), completing the exact-oracle twin set: dc2 covers MinHash
    banding, ann4 covers sign-projection ANN, dd9 covers SimHash. dd4's
    64-bit xxhash64 fingerprints remain the scale default (wider
    fingerprint = finer Hamming resolution); dd9 is the
    driver-checkable witness that the banded-Hamming JOIN SHAPE —
    explode nibble slices, equi-join (band, value), bit_count(xor)
    verify — computes exactly what it claims. All-integer arithmetic:
    nothing to diverge between engines."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.portable_simhash_pairs(docs, "doc_id", "text")


def _bind_dc4_oracle() -> None:
    """dc4 nests dd11's registered SQL + dc1's fingerprint fragment
    (star_sampling._PREFIX_FP_SQL — imported so the fingerprint has
    ONE definition repo-wide) + both split fragments."""
    from .star_sampling import _PREFIX_FP_SQL

    QUERIES["dc4_split_leakage_eval"].oracle = f"""
    WITH kl AS ({QUERIES["dd11_staged_keep_list"].oracle}),
    dg AS (
        SELECT doc_id, {_PREFIX_FP_SQL} AS digest FROM documents
    ),
    a AS (
        SELECT doc_id, digest, {sql_hash_split('doc_id')} AS split
        FROM dg
    ),
    b AS (
        SELECT d.doc_id, d.digest, {sql_hash_split('k.cluster_id')} AS split
        FROM dg d JOIN kl k ON d.doc_id = k.doc_id
    ),
    la AS (
        SELECT CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS n
        FROM a t JOIN (SELECT DISTINCT digest FROM a WHERE split <> 'train') e
          ON t.digest = e.digest
        WHERE t.split = 'train'
    ),
    lb AS (
        SELECT CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS n
        FROM b t JOIN (SELECT DISTINCT digest FROM b WHERE split <> 'train') e
          ON t.digest = e.digest
        WHERE t.split = 'train'
    )
    SELECT la.n AS n_leaks_doc_split, lb.n AS n_leaks_cluster_split
    FROM la, lb
    """


def _bind_sp5_oracle() -> None:
    """sp5 nests dd11's registered SQL (the lexical star edges) + the
    shared _KM_SCORED_SQL cell chain at rn <= 2 (dc3's 2-probe pair
    semantics) + the dd10-pattern recursive closure over the union.

    NOTE: jreach's MIN-label ranges over ALL reachable endpoints,
    including the semantic edges' vec_ids, while the Spark CC labels
    carry doc ids — equivalent ONLY because vec_id == doc_id in this
    data model (sp5 docstring "ID-SPACE ASSUMPTION"; test-asserted)."""
    QUERIES["sp5_joint_cluster_split"].oracle = f"""
    WITH RECURSIVE kl AS ({QUERIES["dd11_staged_keep_list"].oracle}),
    {_KM_SCORED_SQL},
    v AS (
        SELECT a.vec_id AS id, a.cid, e.embedding,
               {_NORM_SQL.format(a='e.embedding')} AS nrm
        FROM best a JOIN embeddings e ON a.vec_id = e.vec_id
        WHERE a.rn <= 2
    ),
    sempairs AS (
        SELECT DISTINCT a.id AS a_id, b.id AS b_id
        FROM v a JOIN v b ON a.cid = b.cid AND a.id < b.id
        WHERE a.nrm > 0 AND b.nrm > 0
          AND {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
              / (a.nrm * b.nrm) >= 0.40
    ),
    jedges AS (
        -- unique names: dd11's body nested in kl defines its own
        -- edges/reach, and DuckDB's recursive resolution must not see
        -- two recursions under one name (observed: the outer closure
        -- silently stopped expanding at depth 2 when shadowed)
        SELECT doc_id AS a, cluster_id AS b FROM kl WHERE doc_id <> cluster_id
        UNION ALL
        SELECT cluster_id AS a, doc_id AS b FROM kl WHERE doc_id <> cluster_id
        UNION ALL
        SELECT a_id AS a, b_id AS b FROM sempairs
        UNION ALL
        SELECT b_id AS a, a_id AS b FROM sempairs
    ),
    jreach(a, b) AS (
        SELECT a, b FROM jedges
        UNION
        SELECT r.a, e.b FROM jreach r JOIN jedges e ON r.b = e.a
    ),
    jlabeled AS (
        SELECT d.doc_id,
               CAST(LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS BIGINT)
                   AS cluster_id
        FROM documents d LEFT JOIN jreach r ON r.a = d.doc_id
        GROUP BY d.doc_id
    )
    SELECT l.doc_id, d.source, l.cluster_id,
           {sql_hash_split('l.cluster_id')} AS split
    FROM jlabeled l JOIN documents d ON l.doc_id = d.doc_id
    """


# dd13 is defined up with the dedup family but nests km1's oracle,
# which registers later in this module — bind it now that both exist.
_bind_dd13_oracle()
_bind_dc4_oracle()
_bind_sp5_oracle()


# ---------------------------------------------------------------------------
# MM6 / MX5 — the multimodal COST model and its two consumers: each
# document is an (image, text) pair whose sequence cost is patch
# tokens + subword tokens; mm6 packs the combined stream into L=2048
# sequences, mx5 budgets the temperature mixture in the same
# combined grain. ONE cost definition (the SQL CTE fragment below +
# the _mm_token_costs Spark helper) feeds both, so the packer and
# the mixture can never meter different corpora.
# ---------------------------------------------------------------------------

# CTEs tk/meta/mmcost: per payload-bearing doc, the modality-split
# token costs (mmcost carries source for the mixture consumer).
_MM_COST_CTES = f"""tk AS ({tx.sql_subword_token_counts("documents")}),
    meta AS (
        SELECT doc_id,
               CAST('0x' || substring(md5(text), 1, 6) AS BIGINT)
                   % 448 + 64 AS height,
               CAST('0x' || substring(md5(text), 7, 6) AS BIGINT)
                   % 448 + 64 AS width
        FROM documents
    ),
    mmcost AS (
        SELECT m.doc_id AS doc, d.source,
               CAST(((m.height - 1) // 32 + 1) * ((m.width - 1) // 32 + 1)
                   AS BIGINT) AS n_patch_tokens,
               CAST(COALESCE(tk.n_subword_tokens, 0) AS BIGINT)
                   AS n_text_tokens,
               CAST(((m.height - 1) // 32 + 1) * ((m.width - 1) // 32 + 1)
                   + COALESCE(tk.n_subword_tokens, 0) AS BIGINT) AS n_tokens
        FROM meta m
        JOIN documents d ON d.doc_id = m.doc_id
        LEFT JOIN tk ON tk.doc = m.doc_id
    )"""


def _mm_token_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of _MM_COST_CTES' mmcost: (doc, source,
    n_patch_tokens, n_text_tokens, n_tokens) per payload-bearing doc
    — mm5's patch-grid size (shared md5_image_meta metadata) plus
    tok1's subword count. One construction for mm6 and mx5."""
    docs = load_table(spark, sf_dir, "documents")
    height, width = mm.md5_image_meta("text")
    meta = docs.select(
        F.col("doc_id").alias("doc"), "source", height, width
    )
    n_patches = F.expr(
        "((height - 1) div 32 + 1) * ((width - 1) div 32 + 1)"
    ).cast("bigint")
    tk = tx.subword_token_counts(docs, "doc_id", "text").select(
        "doc", "n_subword_tokens"
    )
    return (
        meta.join(tk, "doc", "left")
        .select(
            "doc",
            "source",
            n_patches.alias("n_patch_tokens"),
            F.coalesce(F.col("n_subword_tokens"), F.lit(0))
            .cast("bigint")
            .alias("n_text_tokens"),
        )
        .withColumn(
            "n_tokens",
            (F.col("n_patch_tokens") + F.col("n_text_tokens")).cast(
                "bigint"
            ),
        )
    )


@query(
    "mm6_interleaved_packing",
    f"""
    WITH {_MM_COST_CTES},
    t AS (
        SELECT doc, n_patch_tokens, n_text_tokens, n_tokens FROM mmcost
    )
    {sql_pack_chop('t', 'doc',
                   'doc, n_patch_tokens, n_text_tokens, n_tokens')}
    """,
)
def mm6_interleaved_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERLEAVED MULTIMODAL packing — the sequence layout a
    vision-language pretraining run feeds its dataloader (each doc is
    an [image patches][text tokens] span in one concatenated stream;
    Flamingo/LLaVA-style interleaved corpora train exactly on this):
    per-doc sequence cost = mm5's NaViT patch-grid size (⌈H/32⌉·⌈W/32⌉
    over the SAME md5-derived (height, width) metadata — lockstep
    pinned against mm5's exploded grid in tests/test_sampling.py) plus
    tok1's subword token count, chopped into L=2048 sequences by the
    shared pack_offsets/sql_pack_chop machinery. Emits the modality
    split alongside the offsets: (doc, n_patch_tokens, n_text_tokens,
    n_tokens, start_off, first_seq, last_seq, n_seqs).

    Unlike dp1/dp4, the domain is every document WITH A PAYLOAD — a
    doc whose text tokenizes to nothing still trains its image
    (n_text_tokens coalesces to 0; every image is ≥ 4 patches), the
    multimodal-corpus convention, test-pinned. A NULL-text doc has no
    payload at all in this stand-in data model (text doubles as the
    media bytes — mm1/mm5's convention), so its md5 metadata, patch
    count, and n_tokens all go NULL and the row drops IDENTICALLY in
    both engines under the shared n_tokens > 0 packing guard (review
    finding, stated rather than patched: a content-less doc occupies
    no stream position). Oracle nests tok1's registered SQL inside the
    shared _MM_COST_CTES fragment (one cost definition with mx5).

    Scale shape: tok1's one token explode + one map-side-combined
    count; the patch arithmetic is a zero-shuffle projection (the
    GRID SIZE needs no explode — mm5's per-tile rows are for the
    encoder, the packer only needs the count); one doc-grain LEFT
    join; then dp1's two-level prefix sum and a final unique-keyed
    doc-grain join to re-attach the modality split. NOT a bench line
    (cp4 precedent: tok1 and dp1 price the passes; the patch
    projection is sub-second work)."""
    t = _mm_token_costs(spark, sf_dir)
    packed = pk.pack_offsets(
        t, id_col="doc", tokens_col="n_tokens", seq_len=2048,
        bucket_width=256,
    )
    return packed.join(
        t.select("doc", "n_patch_tokens", "n_text_tokens"), "doc"
    ).select(
        "doc", "n_patch_tokens", "n_text_tokens", "n_tokens",
        "start_off", "first_seq", "last_seq", "n_seqs",
    )



@query(
    "mx5_multimodal_mix",
    f"""
    WITH {_MM_COST_CTES},
    mix AS ({sql_temperature_mix('mmcost', 'doc',
                                 tokens_expr='n_tokens')})
    SELECT doc, source, n_tokens, kept FROM mix
    """,
)
def mx5_multimodal_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODALITY-AWARE temperature mixture (the HANDOFF r13 mm7 idea,
    built in r12): mx1's α=0.5 per-source budgets and deterministic
    lowest-hash admission, metered in the COMBINED multimodal grain —
    mm6's patch + subword token cost, the quantity a vision-language
    run actually consumes per doc. Sources whose documents carry
    large images spend budget on fewer docs; the mixture and the
    packer (mm6) now meter the SAME corpus by construction (ONE cost
    definition: _MM_COST_CTES / _mm_token_costs). Non-vacuity probed
    before registration: the keep set differs from mx4's (6/7 docs
    flip at sf0.01) and from mx1's (5/6) — the image mass moves real
    docs across budget boundaries. Domain note: unlike mx1/mx4, a
    doc whose text tokenizes to nothing still participates (its
    image is its cost — every patch grid is >= 4 tokens), the
    multimodal-corpus convention mm6 set.

    Scale shape: exactly mx1's (the metric was always an input —
    tokens_expr on the oracle side, tokens_col on the Spark side):
    one groupBy(source) budget pass + the two-level per-source
    hash-prefix cumsum; the cost construction adds tok1's one token
    explode and a zero-shuffle patch projection, both priced on
    their own lines. NOT a bench line (cp4 precedent)."""
    costs = _mm_token_costs(spark, sf_dir)
    mix = sampling.temperature_mix(
        costs, key="doc", stratum="source", tokens_col="n_tokens",
        beta_num=1, beta_den=2, salt="mix",
    )
    return mix.select("doc", "source", "n_tokens", "kept")
