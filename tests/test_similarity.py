"""Similarity-search tests: exact cosine on known vectors, LSH recall
vs brute force."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from ig_etl_with_user_reports_2024_spark.operators import similarity as sim


def test_cosine_known_vectors(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0]), (4, [2.0, 0.0])],
        "vec_id bigint, embedding array<float>",
    )
    out = sim.cosine_topk(df.filter("vec_id = 1"), df, k=3).collect()
    by_rank = {r.rank: (r.n_id, r.cos_sim) for r in out}
    assert by_rank[1][0] == 4 and abs(by_rank[1][1] - 1.0) < 1e-12
    assert by_rank[2][0] == 3 and abs(by_rank[2][1] - 1 / math.sqrt(2)) < 1e-12
    assert by_rank[3][0] == 2 and abs(by_rank[3][1]) < 1e-12


def test_lsh_recall_vs_bruteforce(spark, sf_oracle):
    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.q_id, r.n_id)
        for r in sim.cosine_topk(queries, emb, k=5).collect()
    }
    # random 64-d embeddings have weak neighbor structure (cos ~0.3), so
    # per-band sign agreement is low — use more, shorter bands for recall
    approx = {
        (r.q_id, r.n_id)
        for r in sim.lsh_topk(queries, emb, k=5, bands=12, bits_per_band=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall {recall:.2f}"


def test_ivf_recall_vs_bruteforce(spark, sf_oracle):
    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {(r.q_id, r.n_id) for r in sim.cosine_topk(queries, emb, k=5).collect()}
    approx = {
        (r.q_id, r.n_id)
        for r in sim.ivf_topk(queries, emb, k=5, n_cells=16, n_probe=6).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"IVF recall {recall:.2f}"  # random vectors: weak cells


def test_ivf_recall_on_clustered_corpus(spark, sf_oracle):
    """Regression for the centroid draw: on a label-clustered (sorted)
    corpus a head-of-corpus codebook collapses into one cluster; the
    seeded xxhash64 draw must keep recall intact regardless of input
    order."""
    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet").orderBy(
        "label", "vec_id"
    )
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {(r.q_id, r.n_id) for r in sim.cosine_topk(queries, emb, k=5).collect()}
    approx = {
        (r.q_id, r.n_id)
        for r in sim.ivf_topk(queries, emb, k=5, n_cells=16, n_probe=6).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"IVF recall on clustered corpus {recall:.2f}"


def test_embedding_neardup_symmetric_threshold(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.99, 0.14]), (3, [0.0, 1.0])],
        "vec_id bigint, embedding array<float>",
    )
    pairs = {(r.a_id, r.b_id) for r in sim.embedding_neardup_pairs(df, threshold=0.9).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs


def test_pq_codes_deterministic_and_complete(spark, sf_oracle):
    """PQ encoding: one code per (vector, subspace), identical across
    runs and input orderings (seeded codebook + pure-expression
    assignment)."""
    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    n_vecs = emb.count()
    a = sim.pq_codes(emb, "vec_id", "embedding")
    assert a.count() == n_vecs * 8
    rows_a = {(r.id, r.subspace): r.code for r in a.collect()}
    b = sim.pq_codes(emb.orderBy(F.col("vec_id").desc()), "vec_id", "embedding")
    rows_b = {(r.id, r.subspace): r.code for r in b.collect()}
    assert rows_a == rows_b
    codes = {c for c in rows_a.values()}
    assert codes <= set(range(16)) and len(codes) > 1


def test_pq_reconstruction_beats_zero_baseline(spark, sf_oracle):
    """Relative distortion sum(err2)/sum(norm2) must sit well below 1.0
    (the all-zero-reconstruction baseline) even on random vectors — the
    rf6 floor's diagnostic."""
    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    codes = sim.pq_codes(emb, "vec_id", "embedding")
    r = codes.agg((F.sum("err2") / F.sum("norm2")).alias("d")).collect()[0]
    assert r.d <= 0.85, f"PQ distortion {r.d:.3f}"


def test_matryoshka_truncate_unit_norm_and_zero_guard(spark):
    from pyspark.sql import functions as F

    from ig_etl_with_user_reports_2024_spark.operators.similarity import (
        matryoshka_truncate,
    )

    df = spark.createDataFrame(
        [
            (1, [3.0, 4.0, 100.0, 100.0]),  # prefix (3,4): norm 5
            (2, [0.0, 0.0, 9.0, 9.0]),      # zero prefix: NULL components
        ],
        "vec_id bigint, embedding array<float>",
    )
    out = matryoshka_truncate(df, "vec_id", "embedding", k=2)
    rows = {(r.id, r.component): (r.value, r.norm) for r in out.collect()}
    assert len(rows) == 4  # k rows per vector, tail dims ignored
    assert rows[(1, 0)] == (0.6, 5.0)
    assert rows[(1, 1)] == (0.8, 5.0)
    assert rows[(2, 0)] == (None, 0.0)
    # renormalized vectors are unit-norm (where nonzero)
    unit = (
        out.filter("id = 1")
        .agg(F.sum(F.col("value") * F.col("value")).alias("s"))
        .collect()[0]
        .s
    )
    assert abs(unit - 1.0) < 1e-12


def test_kmeans_assign_matches_numpy(spark, sf_oracle):
    """Assignment = numpy brute force under the same portable seeded
    init (lowest salted-md5 ids, hash order = cluster id order)."""
    import hashlib

    import numpy as np

    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    order = sorted(
        vecs, key=lambda i: hashlib.md5(f"km1:{i}".encode()).hexdigest()
    )
    cents = np.stack([vecs[i] for i in order[:8]])
    got = {
        r["id"]: (r["cluster_id"], r["dist2"])
        for r in sim.kmeans_assign(emb, k=8, salt="km1").collect()
    }
    assert set(got) == set(vecs)
    for vid, v in vecs.items():
        d2 = ((cents - v) ** 2).sum(axis=1)
        want = int(d2.argmin())  # numpy argmin tie-breaks low index too
        assert got[vid][0] == want, vid
        assert abs(got[vid][1] - d2[want]) < 1e-9 * max(1.0, d2[want])


def test_kmeans_update_means_and_lloyd_monotonic(spark, sf_oracle):
    import hashlib

    import numpy as np

    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    order = sorted(
        vecs, key=lambda i: hashlib.md5(f"km1:{i}".encode()).hexdigest()
    )
    cents = np.stack([vecs[i] for i in order[:8]])
    assign = {
        vid: int(((cents - v) ** 2).sum(axis=1).argmin())
        for vid, v in vecs.items()
    }
    means: dict[tuple[int, int], float] = {}
    counts: dict[int, int] = {}
    for cid in range(8):
        members = [vecs[v] for v, c in assign.items() if c == cid]
        if not members:
            continue
        counts[cid] = len(members)
        m = np.mean(members, axis=0)
        for comp, val in enumerate(m):
            means[(cid, comp)] = float(val)
    got = sim.kmeans_update(emb, k=8, salt="km1").collect()
    assert {(r["cluster_id"], r["component"]) for r in got} == set(means)
    for r in got:
        assert r["n_members"] == counts[r["cluster_id"]]
        assert abs(r["mean"] - means[(r["cluster_id"], r["component"])]) < 1e-9
    j = sim.kmeans_lloyd_inertia(emb, k=8, salt="km1").collect()[0]
    assert j["j_new"] <= j["j_old"] * (1 + 1e-9)
    assert j["j_new"] > 0


def test_kmeans_assign_plan_has_no_shuffle(spark, sf_oracle):
    """The E-step must stay a pure projection over the scan: a shuffle
    or join here would break the one-scan-at-any-size contract."""
    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    out = sim.kmeans_assign(emb, k=8, salt="km1")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_sign_lsh_recall_vs_bruteforce(spark, sf_oracle):
    # ann4's portable md5-derived ±1 planes: same recall contract as the
    # Gaussian lsh_topk, plus the exact-oracle property tested by the
    # driver gate (4 bands × 4 bits — wider bands than lsh_topk's 12
    # because the candidate join is also oracle-replicated, so the
    # config must stay cheap in SQL too)
    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.q_id, r.n_id)
        for r in sim.cosine_topk(queries, emb, k=5).collect()
    }
    planes = sim.portable_sign_planes(dim=64, n_planes=16)
    approx = {
        (r.q_id, r.n_id)
        for r in sim.sign_lsh_topk(queries, emb, planes, bands=4, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"sign-LSH recall {recall:.2f}"


def test_portable_sign_planes_deterministic():
    a = sim.portable_sign_planes(dim=8, n_planes=3)
    b = sim.portable_sign_planes(dim=8, n_planes=3)
    assert a == b
    assert all(s in (1.0, -1.0) for row in a for s in row)
    # not degenerate: both signs occur
    flat = [s for row in a for s in row]
    assert 1.0 in flat and -1.0 in flat


def test_kmeans_assign_multi_contract(spark, sf_oracle):
    """kmeans_assign_multi: probe_rank=1 rows ARE km1's assignment
    (same codebook, same tie-break); probes=2 emits exactly 2 rows per
    vector with distinct cells and nondecreasing dist2."""
    from ig_etl_with_user_reports_2024_spark.sources.readers import load_table

    emb = load_table(spark, sf_oracle, "embeddings")
    single = {r.id: (r.cluster_id, r.dist2)
              for r in sim.kmeans_assign(emb, "vec_id", "embedding").collect()}
    multi = sim.kmeans_assign_multi(
        emb, "vec_id", "embedding", probes=2
    ).collect()
    by_id: dict = {}
    for r in multi:
        by_id.setdefault(r.id, {})[r.probe_rank] = (r.cluster_id, r.dist2)
    assert set(by_id) == set(single)
    for vid, ranks in by_id.items():
        assert set(ranks) == {1, 2}
        assert ranks[1] == single[vid]
        assert ranks[1][0] != ranks[2][0]
        assert ranks[1][1] <= ranks[2][1]


def test_multiprobe_pairs_bracket(spark, sf_oracle):
    """rf12's approx side sits between rf11's and the exact yardstick:
    single-probe pairs ⊆ multi-probe pairs ⊆ all τ-pairs, and at this
    fixture the knob strictly recovers boundary pairs."""
    from ig_etl_with_user_reports_2024_spark.plans.star_pipeline import (
        semantic_all_pairs,
        semantic_cell_pairs,
        semantic_multiprobe_pairs,
    )
    from ig_etl_with_user_reports_2024_spark.sources.readers import load_table

    emb = load_table(spark, sf_oracle, "embeddings")
    ex = {(r.a_id, r.b_id) for r in semantic_all_pairs(emb, 0.40).collect()}
    p1 = {(r.a_id, r.b_id) for r in semantic_cell_pairs(emb, 0.40).collect()}
    p2 = {(r.a_id, r.b_id)
          for r in semantic_multiprobe_pairs(emb, 0.40, probes=2).collect()}
    assert p1 <= p2 <= ex
    assert len(p2) > len(p1)  # the knob buys real capture here


# ---------------------------------------------------------------------------
# km2 — integer Lloyd training
# ---------------------------------------------------------------------------


def _lloyd_py(rows, k=8, salt="km1", iters=2, scale=10_000):
    """Pure-Python reference of km2: same quantization, same seeded
    draw, same truncating-division means (SQL div semantics: toward
    zero), same (d2, cid) argmin tie-break."""
    import hashlib
    import math as _math

    def tdiv(a, b):
        q = abs(a) // b
        return q if a >= 0 else -q

    xv = {
        r.vec_id: [int(_math.floor(float(x) * scale)) for x in r.embedding]
        for r in rows
    }
    order = sorted(
        xv, key=lambda i: hashlib.md5(f"{salt}:{i}".encode()).hexdigest()
    )
    cb = {cid: list(xv[i]) for cid, i in enumerate(order[:k])}
    books = [dict(cb)]

    def assign(cb):
        out = {}
        for i, v in xv.items():
            best = min(
                (sum((x - c) ** 2 for x, c in zip(v, cv)), cid)
                for cid, cv in cb.items()
            )
            out[i] = (best[1], best[0])
        return out

    for _ in range(iters):
        a = assign(cb)
        sums: dict = {}
        for i, (cid, _) in a.items():
            s = sums.setdefault(cid, [[0] * len(xv[i]), 0])
            s[1] += 1
            for d, x in enumerate(xv[i]):
                s[0][d] += x
        cb = {
            cid: [tdiv(sd, n) for sd in s]
            for cid, (s, n) in sorted(sums.items())
        }
        books.append(dict(cb))
    return books, assign(cb)


def test_km2_matches_python_lloyd(spark, sf_smoke):
    """km2's full trajectory — every codebook and the final assignment
    — equals the pure-Python Lloyd reference bit-for-bit at sf0.001
    (the txt11 recompute convention, extended to an iterative
    operator)."""
    from ig_etl_with_user_reports_2024_spark.sources.readers import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    books_py, final_py = _lloyd_py(rows)
    books = sim.kmeans_lloyd_codebooks(emb, "vec_id", "embedding", iters=2)
    assert len(books) == len(books_py) == 3
    for got, exp in zip(books, books_py):
        assert {cid: v for cid, v in got} == exp
    out = {
        r.id: (r.cluster_id, r.dist2)
        for r in sim.kmeans_lloyd_train(
            emb, "vec_id", "embedding", iters=2
        ).collect()
    }
    assert out == final_py


def test_km2_training_actually_moves(spark, sf_oracle):
    """Non-vacuity for the trained codebook: c2 differs from the
    seeded c0, a nontrivial share of vectors changes cell between the
    seeded and trained assignments, and the exact integer inertia
    strictly decreases each round (the rf14 statement, pinned here
    with the diag values)."""
    from ig_etl_with_user_reports_2024_spark.plans.star_recall import rf14_diag
    from ig_etl_with_user_reports_2024_spark.sources.readers import load_table

    emb = load_table(spark, sf_oracle, "embeddings")
    books = sim.kmeans_lloyd_codebooks(emb, "vec_id", "embedding", iters=2)
    assert dict(books[0]) != dict(books[2])
    from ig_etl_with_user_reports_2024_spark.operators.similarity import (
        _int_assignment,
        _int_vectors,
    )

    base = _int_vectors(emb, "vec_id", "embedding", sim.KM2_SCALE)
    seeded = {
        r.id: r.cluster_id for r in _int_assignment(base, books[0]).collect()
    }
    trained = {
        r.id: r.cluster_id
        for r in sim.kmeans_lloyd_train(emb, "vec_id", "embedding", iters=2)
        .collect()
    }
    moved = sum(1 for i in seeded if seeded[i] != trained[i])
    assert moved > 50, f"only {moved}/500 vectors moved — training vacuous"
    d = rf14_diag(spark, sf_oracle).collect()[0]
    assert d.j0 > d.j1 > d.j2 and d.meets_floor


def test_km2_sql_builder_unchanged_by_ctes_refactor():
    """The r14 _km2_ctes refactor (salt/prefix params for ann6's
    composed oracle) must leave km2's registered oracle text
    byte-identical to the pre-refactor builder's output — the FULL
    emitted text is md5-pinned (r14 review finding: spot-pinned
    substrings alone would let an edit outside the pinned lines change
    the registered oracle silently, defeating the km1-r10 rotation
    rule that depends on knowing when construction changed; a
    deliberate builder change must update this pin and take a group-0
    slot). tok4's shared builder gets the same treatment."""
    import hashlib

    from ig_etl_with_user_reports_2024_spark.dims import BPE_MERGES_500
    from ig_etl_with_user_reports_2024_spark.operators.textops import (
        sql_chunked_subword_token_counts,
    )
    from ig_etl_with_user_reports_2024_spark.plans.star_pipeline import (
        _km2_ctes,
        _km2_sql,
    )

    sql = _km2_sql(iters=2)
    # full-text pin: the pre-refactor builder's exact output (verified
    # against git HEAD~ at refactor time)
    assert hashlib.md5(sql.encode()).hexdigest() == (
        "b3d1d8333ba86d13604680399d4086b1"
    ), "km2's registered oracle text changed — deliberate? update pin + rotation"
    assert hashlib.md5(
        sql_chunked_subword_token_counts(BPE_MERGES_500).encode()
    ).hexdigest() == (
        # r15: pin updated for the DELIBERATE merge-table regeneration
        # (corpus 20k->100k types so one trajectory reaches tok6's 50k
        # rules); construction unchanged, tok4/tok5/tok6 take group-0
        # rotation slots exactly as this message orders
        "61e416b2a2ca7a5f05eb68680718e7de"
    ), "tok4's registered oracle text changed — deliberate? update pin + rotation"
    # historical text spot-pins: bare (never re-aliased) relation names
    assert "FROM dr JOIN xi ON dr.vec_id = xi.id" in sql
    assert "FROM xi JOIN c0 c ON xi.d = c.d" in sql
    assert "FROM a0 a JOIN xi ON a.id = xi.id" in sql
    assert "md5('km1:'" in sql
    assert "ann6_" not in sql
    # prefixed emission re-aliases so column references are unchanged
    pref = ",".join(_km2_ctes(iters=2, k=16, salt="ann3", prefix="ann6_"))
    assert "FROM ann6_dr dr JOIN ann6_xi xi ON dr.vec_id = xi.id" in pref
    assert "md5('ann3:'" in pref
    # final_assignment=False (ADVICE r14): the chain stops at the
    # trained codebook — no dead trailing E-step CTEs in composed
    # consumers; default-True emission is unchanged (pinned above)
    cut = _km2_ctes(iters=2, k=16, salt="ann3", prefix="ann6_",
                    final_assignment=False)
    txt = ",".join(cut)
    assert "ann6_c2 AS" in txt
    assert "ann6_s2" not in txt and "ann6_a2" not in txt
    assert len(cut) == len(_km2_ctes(iters=2, k=16, salt="ann3",
                                     prefix="ann6_")) - 2


def test_ann6_trained_cells_beat_seeded_and_match_probe(spark, sf_oracle):
    """ann6's reason to exist, asserted: at identical k/n_probe the
    trained-codebook IVF recall strictly exceeds the seeded ann3's on
    the gate corpus (the r13 consequence probe's numbers, now pinned —
    0.56 vs 0.40 at sf0.01), and the two entries genuinely differ
    (non-vacuity: ann6 is not ann3 with a new name)."""
    import __spark_entry__ as em
    from ig_etl_with_user_reports_2024_spark.sources.readers import load_table

    qs = em.queries()
    emb = load_table(spark, sf_oracle, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = sim.cosine_topk(q, emb, "vec_id", "embedding", k=5).select(
        "q_id", "n_id"
    )
    pairs = {}
    for name in ("ann3_ivf_topk", "ann6_trained_ivf_topk"):
        df = qs[name](spark, sf_oracle).select("q_id", "n_id")
        pairs[name] = {(r.q_id, r.n_id) for r in df.collect()}
    assert pairs["ann3_ivf_topk"] != pairs["ann6_trained_ivf_topk"]
    gold = {(r.q_id, r.n_id) for r in exact.collect()}
    rec = {n: len(p & gold) / len(gold) for n, p in pairs.items()}
    assert rec["ann6_trained_ivf_topk"] > rec["ann3_ivf_topk"], rec
    assert rec["ann6_trained_ivf_topk"] >= 0.5, rec


def test_dot_norm_unrolled_equals_fold_all_widths(spark):
    # Fold-semantics regression pin for _dot/_norm: on widths 63, 64 and
    # 65 they must equal a left-to-right aggregate fold EXACTLY (same
    # IEEE addition order, no tolerance), and propagate a NULL array or
    # a null element to a NULL result.
    rows = []
    for w, tag in [(63, "short"), (64, "exact"), (65, "long")]:
        rows.append((tag, [float(i % 7) - 3.0 for i in range(1, w + 1)],
                     [float((i * 3) % 5) - 2.0 for i in range(1, w + 1)]))
    rows.append(("null_array", None, [1.0] * 64))
    ne = [1.0] * 64
    ne[17] = None
    rows.append(("null_elem", ne, [2.0] * 64))
    df = spark.createDataFrame(
        rows, "tag string, a array<double>, b array<double>"
    )

    def fold_dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def fold_norm(a):
        return F.sqrt(
            F.aggregate(
                F.transform(a, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )

    a, b = F.col("a"), F.col("b")
    out = df.select(
        "tag",
        sim._dot(a, b).alias("d_fast"),
        fold_dot(a, b).alias("d_ref"),
        sim._norm(a).alias("n_fast"),
        fold_norm(a).alias("n_ref"),
    ).collect()
    assert len(out) == 5
    for r in out:
        # exact equality including None — bit-identity, not tolerance
        assert r.d_fast == r.d_ref or (r.d_fast is None and r.d_ref is None), (
            r.tag, r.d_fast, r.d_ref)
        assert r.n_fast == r.n_ref or (r.n_fast is None and r.n_ref is None), (
            r.tag, r.n_fast, r.n_ref)
    by_tag = {r.tag: r for r in out}
    assert by_tag["null_array"].d_fast is None
    assert by_tag["null_elem"].d_fast is None
    assert by_tag["exact"].d_fast is not None
