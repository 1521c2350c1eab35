"""Vector ANN semantics: IVF recall vs the brute-force baseline and
scale-shape plan pins (SURVEY.md §2 I)."""

from __future__ import annotations

import pytest

import contextlib
import io

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from slowlog2clickhouse_spark.io import load_table
from slowlog2clickhouse_spark.operators.vector import _emb_double, cosine
from slowlog2clickhouse_spark.registry import all_ops

OPS = all_ops()


def brute_force_topk(spark, sf_dir, k=3):
    """Exact top-k with the SAME probe/cand split as vec_knn_ivf."""
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("probe_id"), _emb_double().alias("pe")
    )
    cands = e.where(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("cand_id"), _emb_double().alias("ce")
    )
    scored = cands.join(F.broadcast(probes)).select(
        "probe_id",
        "cand_id",
        F.round(cosine(F.col("pe"), F.col("ce")), 6).alias("cos_sim"),
    )
    w = W.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """IVF with nprobe=4 of 16 cells must recover a healthy share of
    the true top-3 — the accuracy/cost dial every ANN index exposes."""
    truth: dict[int, set[int]] = {}
    for r in brute_force_topk(spark, sf_dir).collect():
        truth.setdefault(r["probe_id"], set()).add(r["cand_id"])
    got: dict[int, set[int]] = {}
    for r in OPS["vec_knn_ivf"].fn(spark, sf_dir).collect():
        got.setdefault(r["probe_id"], set()).add(r["cand_id"])
    assert set(got) == set(truth)  # every probe answered
    recalls = [
        len(truth[p] & got.get(p, set())) / len(truth[p]) for p in truth
    ]
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.4, f"IVF recall collapsed: {avg:.2f} ({recalls})"


def test_ivf_results_are_true_neighbors(spark, sf_dir):
    """Every IVF hit must carry the genuine cosine (no fabricated
    scores): re-scoring a sample against the raw table matches."""
    rows = OPS["vec_knn_ivf"].fn(spark, sf_dir).limit(10).collect()
    e = load_table(spark, sf_dir, "embeddings")
    for r in rows:
        pair = (
            e.where(F.col("vec_id") == r["probe_id"])
            .select(_emb_double().alias("pe"))
            .crossJoin(
                e.where(F.col("vec_id") == r["cand_id"]).select(
                    _emb_double().alias("ce")
                )
            )
            .select(F.round(cosine(F.col("pe"), F.col("ce")), 6).alias("c"))
            .collect()[0]["c"]
        )
        assert pair == r["cos_sim"]


def test_ivf_plan_no_cartesian(spark, sf_dir):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        OPS["vec_knn_ivf"].fn(spark, sf_dir).explain("formatted")
    p = buf.getvalue()
    # the only nested-loop allowed is the K-row centroid broadcast;
    # probe-candidate matching must be the cell equi-join
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_int8_quantization_fidelity(spark, sf_dir):
    """int8 codes must stay in [0, 255] and reconstruct vectors at
    cosine fidelity > 0.995 (the threshold below which int8 ANN recall
    visibly degrades); max per-component error is bounded by one code
    step over the observed dimension range."""
    rows = OPS["vec_quantize_int8"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["code_min"] <= r["code_max"] <= 255, r["vec_id"]
        assert r["cos_fidelity"] > 0.995, (r["vec_id"], r["cos_fidelity"])
        # one quantization step of a unit-ish embedding range; generous lid
        assert r["max_abs_err"] < 0.05, (r["vec_id"], r["max_abs_err"])


def test_kmeans_partitions_corpus_and_inertia_decreases(spark, sf_dir):
    from slowlog2clickhouse_spark.io import load_table
    from slowlog2clickhouse_spark.operators.vector import _emb_double, _lloyd

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double().alias("e")
    )
    assigned, history = _lloyd(emb, k=8, iters=3)
    assert assigned.count() == emb.count()
    assert all(a >= b - 1e-9 for a, b in zip(history, history[1:])), history
    sizes = OPS["vec_kmeans"].fn(spark, sf_dir).collect()
    assert sum(r["n"] for r in sizes) == emb.count()
    assert all(0 <= r["cluster"] < 8 for r in sizes)


def test_ann_recall_eval_bounds_and_truth_size(spark, sf_dir):
    """Recall rows exist for both methods, recall ∈ [0,1], hits ≤ truth,
    and the truth panel is exactly 20 probes × top-3."""
    rows = {r["method"]: r for r in OPS["ann_recall_eval"].fn(spark, sf_dir).collect()}
    assert set(rows) == {"lsh", "ivf", "lsh_mp", "lsh_8p_single"}
    for m, r in rows.items():
        assert 0 <= r["hits"] <= r["truth_n"], m
        assert 0.0 <= r["recall"] <= 1.0, m
    assert all(r["truth_n"] == 60 for r in rows.values())
    # Hamming-1 multi-probe strictly widens the 8-plane single-probe
    # candidate set, so its recall cannot be lower; and the r7 default
    # (5 planes + multi-probe) must beat the old 8p-single default —
    # the measured cliff that motivated the re-tune (0.40 vs 0.03)
    assert rows["lsh_mp"]["recall"] >= rows["lsh_8p_single"]["recall"]
    assert rows["lsh"]["recall"] >= rows["lsh_8p_single"]["recall"]
    # IVF(nprobe=4) still leads on this corpus (≈0.65 vs 0.40)
    assert rows["ivf"]["recall"] >= rows["lsh"]["recall"]


def test_t3_matches_the_row_number_window_order(spark):
    """ann_recall_eval's sorted-list top-3 (``_t3``) ranks exactly like
    the window it replaced, ``row_number() OVER (ORDER BY cos_sim DESC,
    cand_id ASC) <= 3``: NaN first, NULL last, -0.0 tied with 0.0, ties
    broken by cand_id — with and without the ``cond`` subset."""
    from slowlog2clickhouse_spark.operators.vector import _t3

    nan, inf = float("nan"), float("inf")
    rows = [
        (1, 1, None), (1, 2, 0.5), (1, 3, 0.5), (1, 4, nan), (1, 5, 1.0),
        (2, 5, 0.0), (2, 4, -0.0), (2, 6, 0.0), (2, 7, None), (2, 8, 0.0),
        (3, 1, None), (3, 2, None), (3, 3, -0.2),
        (4, 9, nan), (4, 8, nan), (4, 7, inf), (4, 6, -inf),
        (5, 2, None), (5, 4, None), (5, 3, -0.0),
    ]
    df = spark.createDataFrame(rows, "g int, cand_id int, cos_sim double")
    even = F.col("cand_id") % 2 == 0

    def window_top3(d):
        w = W.partitionBy("g").orderBy(F.col("cos_sim").desc(), F.col("cand_id").asc())
        ranked = d.withColumn("rn", F.row_number().over(w)).where("rn <= 3")
        return {
            g: [c for _, c in sorted(v)]
            for g, v in ranked.groupBy("g")
            .agg(F.collect_list(F.struct("rn", "cand_id")).alias("v"))
            .collect()
        }

    got = {
        r["g"]: r
        for r in df.groupBy("g")
        .agg(_t3().alias("top"), _t3(even).alias("top_even"))
        .select("g", "top.cand_id", F.col("top_even.cand_id").alias("even"))
        .collect()
    }
    assert {g: r["cand_id"] for g, r in got.items()} == window_top3(df)
    assert {g: r["even"] for g, r in got.items() if r["even"]} == window_top3(
        df.where(even)
    )
    assert got[1]["cand_id"] == [4, 5, 2]  # NaN, 1.0, then the 0.5 tie
    assert got[3]["cand_id"] == [3, 1, 2]  # NULLs rank last


def test_nprobe_sweep_recall_is_monotone_in_nprobe(spark, sf_dir):
    rows = sorted(
        OPS["ann_nprobe_sweep"].fn(spark, sf_dir).collect(),
        key=lambda r: r["nprobe"],
    )
    assert [r["nprobe"] for r in rows] == [1, 2, 4, 8]
    # searching more cells can only find more true neighbors
    for prev, cur in zip(rows, rows[1:]):
        assert cur["hits"] >= prev["hits"], rows
    assert all(0 <= r["recall"] <= 1 for r in rows)
    assert rows[-1]["hits"] > 0


def test_masked_bucket_equals_direct_plane_bucketing(spark, sf_dir):
    """ann_recall_eval's shared-bucketing shortcut: the 5-plane LSH arm
    derives its bucket as the low-5-bit mask of the 8-plane bucket
    (plane p contributes bit p). Pin that the mask-derived k-NN output
    is row-for-row the registered vec_knn_lsh (direct 5-plane) output."""
    import pyspark.sql.functions as F

    from slowlog2clickhouse_spark.io import load_table
    from slowlog2clickhouse_spark.operators.vector import (
        N_PLANES_DEFAULT,
        PLANES,
        _emb_double,
        _lsh_bucket_col,
        _lsh_knn_from_bucketed,
        vec_knn_lsh,
    )

    e = load_table(spark, sf_dir, "embeddings")
    masked = e.select(
        "vec_id",
        _emb_double().alias("ed"),
        _lsh_bucket_col(_emb_double(), PLANES)
        .bitwiseAND(F.lit((1 << N_PLANES_DEFAULT) - 1))
        .alias("bucket"),
    )
    got = {
        (r["probe_id"], r["cand_id"], r["rn"])
        for r in _lsh_knn_from_bucketed(
            masked, N_PLANES_DEFAULT, multiprobe=True
        ).collect()
    }
    want = {
        (r["probe_id"], r["cand_id"], r["rn"])
        for r in vec_knn_lsh(spark, sf_dir).collect()
    }
    assert got == want and want


def test_dim_stats_health_profile_invariants(spark, sf_dir):
    """vec_dim_stats: one row per dimension, n = corpus size, bounds
    ordered (min <= mean <= max), std consistent with the per-dim
    values recomputed locally, zero_frac in [0,1]."""
    import math

    from collections import defaultdict

    from slowlog2clickhouse_spark.io import load_table

    rows = {r["pos"]: r for r in OPS["vec_dim_stats"].fn(spark, sf_dir).collect()}
    emb = [
        r["embedding"]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    ]
    dims = len(emb[0])
    assert set(rows) == set(range(1, dims + 1))
    by_dim = defaultdict(list)
    for e in emb:
        for i, v in enumerate(e):
            by_dim[i + 1].append(float(v))
    for pos, r in rows.items():
        vals = by_dim[pos]
        assert r["n"] == len(vals)
        assert r["vmin"] <= r["mean"] <= r["vmax"]
        assert 0.0 <= r["zero_frac"] <= 1.0
        m = sum(vals) / len(vals)
        var = sum((v - m) ** 2 for v in vals) / len(vals)
        assert abs(r["mean"] - m) < 1e-5
        assert abs(r["std"] - math.sqrt(var)) < 1e-4


@pytest.mark.slow  # r17 driver-budget deselection (VERDICT r16 #6); in the full suite via scripts/ptest.py
def test_pq_quantize_fidelity_and_codes(spark, sf_dir):
    """vec_quantize_pq: codes cover the full 4-bit range, fidelity
    matches the measured floor for near-uniform embeddings (PQ's worst
    case), and the seedless trainer is rerun-deterministic."""
    from slowlog2clickhouse_spark.registry import all_ops

    ops = all_ops()
    df = ops["vec_quantize_pq"].fn(spark, sf_dir).cache()
    n = df.count()
    assert n == spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    stats = df.agg(
        F.min("cos_fidelity").alias("mn"),
        F.avg("cos_fidelity").alias("av"),
        *[F.min(f"code_{j}").alias(f"lo{j}") for j in range(8)],
        *[F.max(f"code_{j}").alias(f"hi{j}") for j in range(8)],
        *[F.countDistinct(f"code_{j}").alias(f"k{j}") for j in range(8)],
    ).collect()[0]
    assert stats["av"] > 0.55 and stats["mn"] > 0.3
    for j in range(8):
        assert 0 <= stats[f"lo{j}"] and stats[f"hi{j}"] <= 15
        assert stats[f"k{j}"] >= 8  # codebook actually in use
    # deterministic: seedless init + 9dp model rounding => identical rerun
    again = ops["vec_quantize_pq"].fn(spark, sf_dir)
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, again.collect()))


@pytest.mark.slow  # r17 driver-budget deselection (VERDICT r16 #6); in the full suite via scripts/ptest.py
def test_pq_adc_recall_and_determinism(spark, sf_dir):
    """vec_knn_pq_adc: exactly top-5 per probe, recall vs the exact
    baseline above the measured floor for the worst-case near-uniform
    corpus (recorded in SCALING.md), deterministic rerun."""
    from slowlog2clickhouse_spark.registry import all_ops

    ops = all_ops()
    adc_df = ops["vec_knn_pq_adc"].fn(spark, sf_dir).cache()
    per_probe = {
        r["probe_id"]: r["n"]
        for r in adc_df.groupBy("probe_id").agg(F.count("*").alias("n")).collect()
    }
    assert set(per_probe) == {0, 1, 2, 3, 4}
    assert all(v == 5 for v in per_probe.values())
    exact = {
        (r["probe_id"], r["cand_id"])
        for r in ops["vec_knn_topk"].fn(spark, sf_dir).collect()
    }
    adc = {(r["probe_id"], r["cand_id"]) for r in adc_df.collect()}
    recall = len(exact & adc) / len(exact)
    # 64x-compressed codes on near-uniform embeddings (PQ's worst
    # case): measured 0.24 at sf0.001 / 0.32 at sf0.01 — the floor
    # guards against silent collapse, not against the honest trade
    assert recall >= 0.15, recall
    again = {(r["probe_id"], r["cand_id"]) for r in ops["vec_knn_pq_adc"].fn(spark, sf_dir).collect()}
    assert adc == again


@pytest.mark.slow  # r17 driver-budget deselection (VERDICT r16 #6); in the full suite via scripts/ptest.py
def test_ivf_pq_recall_and_rerank(spark, sf_dir):
    """vec_knn_ivf_pq: exactly top-3 per probe; the exact re-rank
    stage lifts recall well above ADC-only (measured 0.42-0.50 vs
    0.08-0.13 across test SFs; IVF cell pruning itself ceilings at
    ~0.65) and never exceeds the cell-pruning ceiling; deterministic."""
    from pyspark.sql import Window as W

    from slowlog2clickhouse_spark.io import load_table
    from slowlog2clickhouse_spark.operators.vector import _emb_double, cosine
    from slowlog2clickhouse_spark.registry import all_ops

    ops = all_ops()
    got = ops["vec_knn_ivf_pq"].fn(spark, sf_dir).cache()
    per = {r["probe_id"]: r["n"] for r in got.groupBy("probe_id").agg(F.count("*").alias("n")).collect()}
    assert len(per) == 20 and all(v == 3 for v in per.values())

    e = load_table(spark, sf_dir, "embeddings")
    probes = e.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("probe_id"), _emb_double().alias("pe")
    )
    cands = e.where(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("cand_id"), _emb_double().alias("ce")
    )
    w = W.partitionBy("probe_id").orderBy(
        F.round(cosine(F.col("pe"), F.col("ce")), 6).desc(), F.col("cand_id")
    )
    truth = {
        (r["probe_id"], r["cand_id"])
        for r in cands.join(F.broadcast(probes))
        .withColumn("rn", F.row_number().over(w))
        .where("rn <= 3")
        .select("probe_id", "cand_id")
        .collect()
    }
    mine = {(r["probe_id"], r["cand_id"]) for r in got.collect()}
    ivf = {
        (r["probe_id"], r["cand_id"])
        for r in ops["vec_knn_ivf"].fn(spark, sf_dir).collect()
    }
    recall = len(truth & mine) / len(truth)
    ivf_recall = len(truth & ivf) / len(truth)
    assert recall >= 0.3, recall
    assert recall <= ivf_recall + 1e-9  # can't beat its own cell pruning
    again = {
        (r["probe_id"], r["cand_id"])
        for r in ops["vec_knn_ivf_pq"].fn(spark, sf_dir).collect()
    }
    assert mine == again


@pytest.mark.slow  # r17 driver-budget deselection (VERDICT r16 #6); in the full suite via scripts/ptest.py
def test_ivfpq_sweep_frontier_invariants(spark, sf_dir):
    """The IVF-PQ knob curve (VERDICT r9 #4): 12 grid rows; adc_rows
    (the scale-dominant cost) strictly grows with nprobe and is
    shortlist-independent; recall is monotone non-decreasing in
    shortlist at fixed nprobe (fixed ADC pool, top-16 ⊆ top-32 ⊆
    top-64, and the exact-cosine re-rank can never evict a truth
    member for a superset — anything out-cosining a truth top-3 row IS
    truth top-3). Monotonicity in nprobe is deliberately NOT asserted:
    more cells can displace a truth candidate from the ADC shortlist
    (measured: recall(8,32) < recall(4,32) at sf0.01). The corner
    configs anchor the curve: (8,64) must beat (1,16)."""
    rows = OPS["ann_ivfpq_sweep"].fn(spark, sf_dir).collect()
    assert len(rows) == 12
    by = {(r["nprobe"], r["shortlist"]): r for r in rows}
    nps, sls = (1, 2, 4, 8), (16, 32, 64)
    for np_ in nps:
        adc = {by[(np_, sl)]["adc_rows"] for sl in sls}
        assert len(adc) == 1  # cost axis is nprobe-only
        for lo, hi in zip(sls, sls[1:]):
            assert by[(np_, hi)]["recall"] >= by[(np_, lo)]["recall"]
    for lo, hi in zip(nps, nps[1:]):
        assert by[(hi, 16)]["adc_rows"] > by[(lo, 16)]["adc_rows"]
    assert by[(8, 64)]["recall"] > by[(1, 16)]["recall"]
    for r in rows:
        assert 0.0 <= r["recall"] <= 1.0 and r["hits"] <= r["truth_n"]


@pytest.mark.slow  # r17 driver-budget deselection (VERDICT r16 #6); in the full suite via scripts/ptest.py
def test_pq_bits_clustered_buys_back_the_ceiling(spark, sf_dir):
    """r12 VERDICT #5 done-criterion: on the planted-cluster corpus
    with cells wide open (nprobe=8), the 8-bit codebook (256
    centroids/subspace, 32x compression) must clear recall@3 > 0.90
    at some shortlist — the 4-bit arm's ~0.85 cap at shortlist 64 was
    QUANTIZATION loss, and doubling code resolution buys it back.
    adc_rows must be identical across arms (the cost axis is the
    nprobe fan-out, codebook-independent); within an arm recall is
    monotone in shortlist; 8-bit >= 4-bit at every shortlist."""
    rows = OPS["ann_pq_bits_clustered"].fn(spark, sf_dir).collect()
    assert len(rows) == 4
    by = {(r["pq_bits"], r["shortlist"]): r for r in rows}
    assert len({r["adc_rows"] for r in rows}) == 1  # same ADC cost
    for bits in (4, 8):
        assert by[(bits, 64)]["recall"] >= by[(bits, 16)]["recall"]
    for sl in (16, 64):
        assert by[(8, sl)]["recall"] >= by[(4, sl)]["recall"]
        assert by[(8, sl)]["code_bytes"] == 8  # 32x, not 64x — the trade
        assert by[(4, sl)]["code_bytes"] == 4
    assert by[(8, 64)]["recall"] > 0.90  # the ceiling is bought back
    assert by[(4, 64)]["recall"] < 0.90  # and 4-bit really was capped


@pytest.mark.slow  # r17 driver-budget deselection (VERDICT r16 #6); in the full suite via scripts/ptest.py
def test_pq_train_local_equals_distributed(spark, sf_dir):
    """The driver-side numpy trainer (large-k path) must reproduce the
    distributed Lloyd chain EXACTLY — same init, argmin tiebreak,
    HALF_UP 9-dp rounding, empty-cluster carry-over — at both the
    shipped k=16 and the 8-bit k=256."""
    from slowlog2clickhouse_spark.operators.vector import (
        PQ_ITERS,
        PQ_M,
        PQ_SUB,
        _clustered_embeddings,
        _ivfpq_build_index,
        _pq_train,
        _pq_train_local,
    )

    _, cand_res, _ = _ivfpq_build_index(
        spark, sf_dir, 8, e=_clustered_embeddings(spark)
    )
    cand_res = cand_res.localCheckpoint()
    # k=256 — the ONLY configuration the local trainer serves (it is
    # gated to pq_k > 64) — must be bit-exact.
    a = _pq_train(cand_res, PQ_M, PQ_SUB, 256, PQ_ITERS)
    b = _pq_train_local(cand_res, PQ_M, PQ_SUB, 256, PQ_ITERS)
    assert a == b, "k=256: trainer divergence"
    # k=16 is documented-approximate, NOT used: with ~62-member
    # clusters the cluster means land on exactly-representable 9-dp
    # midpoints of this corpus's n/1000-derived values, and numpy's
    # sequential summation differs from Spark's partition-merge order
    # by one ulp — flipping HALF_UP at the midpoint (measured: 3 of
    # 128 centroids, one 1e-9 step each). That is WHY the local
    # trainer is gated to large k (tiny clusters, no such midpoints)
    # and the distributed _pq_train stays the k<=64 path.
    a16 = _pq_train(cand_res, PQ_M, PQ_SUB, 16, PQ_ITERS)
    b16 = _pq_train_local(cand_res, PQ_M, PQ_SUB, 16, PQ_ITERS)
    for ja, jb in zip(a16, b16):
        for ca, cb in zip(ja, jb):
            for x, y in zip(ca, cb):
                assert abs(x - y) <= 1e-9 + 1e-15


def test_opq_rotation_matrix_frozen_and_near_orthogonal():
    """The committed OPQ rotation (r13 VERDICT #4) is a 64x64 6-dp
    literal; near-orthogonality (M M^T ~ I within the rounding budget)
    is what makes 'rotation' an honest label — the ADC space keeps its
    metric up to ~1e-4, and truth/re-rank never leave the original
    space anyway. Full re-derivation from the live index is pinned by
    scripts/gen_opq_rotation.py --check (run in
    test_opq_rotation_pinned_to_corpus below)."""
    import numpy as np

    from slowlog2clickhouse_spark.operators._opq_rotation import (
        OPQ_ROT,
        OPQ_SPECTRUM,
    )

    M = np.asarray(OPQ_ROT, dtype=np.float64)
    assert M.shape == (64, 64)
    err = np.abs(M @ M.T - np.eye(64)).max()
    # 64 products of two 6-dp-rounded factors: worst-case ~64 * 2e-6
    assert err < 2e-4, err
    assert OPQ_SPECTRUM[0] > 4.0 and OPQ_SPECTRUM[1] < 0.1  # anisotropy


def test_opq_rotation_pinned_to_corpus(spark):
    """Corpus/index drift must fail LOUDLY: re-derive the rotation from
    the live deterministic index (same code path as the generator) and
    compare against the committed constant, including the rendered
    module text — a silent regeneration or hand-edit is a diff here."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "gen_opq_rotation",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
            "gen_opq_rotation.py",
        ),
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    mat, spectrum = gen.derive_rotation()
    assert gen.render(mat, spectrum) == open(gen.OUT, encoding="utf-8").read()


@pytest.mark.slow  # r17 driver-budget deselection (VERDICT r16 #6); in the full suite via scripts/ptest.py
def test_opq_rotation_lifts_4bit_recall(spark, sf_dir):
    """The op's headline claim: at UNCHANGED adc_rows and 4-bit code
    budget, the rotated arm's recall@3 beats identity at shortlist 64
    and clears the 0.85 ceiling ann_pq_bits_clustered measured."""
    rows = {
        (r["rot"], r["shortlist"]): r
        for r in OPS["ann_opq_rotation"].fn(spark, sf_dir).collect()
    }
    ident, opq = rows[("identity", 64)], rows[("opq", 64)]
    assert ident["adc_rows"] == opq["adc_rows"]
    assert opq["recall"] > ident["recall"]
    assert opq["recall"] > 0.85
    # and it helps at the tight shortlist too (0.33 -> 0.45 measured)
    assert rows[("opq", 16)]["recall"] > rows[("identity", 16)]["recall"]


def test_ivf_append_day1_rows_are_searchable(spark, sf_dir):
    """vec_ivf_append's headline claim: vectors APPENDED after the
    cells froze (epoch=day1) surface in search results — the append is
    live, not write-only — and every probe still gets a full top-3
    ranked by exact cosine with the documented tiebreak."""
    rows = OPS["vec_ivf_append"].fn(spark, sf_dir).collect()
    assert len(rows) == 60  # 20 probes x top-3
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r["probe_id"], []).append(r)
    assert len(by_probe) == 20
    epochs = {r["epoch"] for r in rows}
    assert epochs == {"day0", "day1"}  # both generations rank
    for p, rs in by_probe.items():
        rns = sorted(r["rn"] for r in rs)
        assert rns == [1, 2, 3], (p, rns)
        sims = [r["cos_sim"] for r in sorted(rs, key=lambda r: r["rn"])]
        assert sims == sorted(sims, reverse=True), (p, sims)
