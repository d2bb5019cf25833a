"""Pins for the LLM-pipeline operators whose semantics the SQL oracle
cannot express (SURVEY.md §5.2): approximate dedup vs the exact
baseline, ANN vs the exact scorer, and the deterministic decode stub.
"""

from __future__ import annotations

import pytest

import hashlib
import os

from pyspark.sql import functions as F

from mapreduceplusplus_spark import registry
from tests.conftest import SF_DIR_ORACLE

registry.load_all()


def _pairs(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_minhash_matches_exact_jaccard(spark):
    """Fixed-seed MinHash-LSH (16 bands × 4 rows) must recover EVERY
    pair the exact trigram-Jaccard dedup finds on this corpus (planted
    pairs are ≥ 0.9 Jaccard — miss probability ~4e-8 per pair), with
    identical verified Jaccard values."""
    qs = registry.queries()
    exact = _pairs(qs["dedup_ngram_jaccard"](spark, SF_DIR_ORACLE), "doc_a", "doc_b", "jaccard")
    approx = _pairs(qs["dedup_minhash_near"](spark, SF_DIR_ORACLE), "doc_a", "doc_b", "jaccard")
    assert len(exact) > 0
    assert approx == exact


def test_simhash_recall_and_bound(spark):
    """SimHash 16-bit-band candidates: every output pair respects the
    Hamming bound, and recall over the exact near-dup pairs is ≥ 0.8
    (SimHash on ~50-token docs is noisy by nature — candidates are
    verified downstream in a real pipeline)."""
    qs = registry.queries()
    exact = {(a, b) for a, b, _ in _pairs(qs["dedup_ngram_jaccard"](spark, SF_DIR_ORACLE), "doc_a", "doc_b", "jaccard")}
    sim = _pairs(qs["dedup_simhash"](spark, SF_DIR_ORACLE), "doc_a", "doc_b", "hamming")
    assert all(h <= 6 for _, _, h in sim)
    found = {(a, b) for a, b, _ in sim}
    recall = len(found & exact) / len(exact)
    assert recall >= 0.8, f"simhash recall {recall:.2f} over {len(exact)} exact pairs"


def test_simhash_deterministic(spark):
    qs = registry.queries()
    r1 = _pairs(qs["dedup_simhash"](spark, SF_DIR_ORACLE), "doc_a", "doc_b", "hamming")
    r2 = _pairs(qs["dedup_simhash"](spark, SF_DIR_ORACLE), "doc_a", "doc_b", "hamming")
    assert r1 == r2


def test_lsh_topk_subset_of_exact_scores(spark):
    """ANN results must be REAL similarities: every (vec_id, cosine)
    the LSH variant returns must carry the same cosine the exact
    scorer computes for that vec_id, and candidates must come from the
    probe's bucket (recall < 1 is the ANN contract, correctness of
    scores is not negotiable)."""
    from mapreduceplusplus_spark.llm.similarity import PROBE_ID, _as_double, _dot, _norm
    from mapreduceplusplus_spark.sources.tables import load_table

    qs = registry.queries()
    lsh = qs["sim_search_lsh"](spark, SF_DIR_ORACLE).collect()
    assert 0 < len(lsh) <= 10

    emb = load_table(spark, SF_DIR_ORACLE, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    probe = emb.where(F.col("vec_id") == PROBE_ID).select(F.col("v").alias("pv"))
    exact = (
        emb.where(F.col("vec_id") != PROBE_ID)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            F.round(_dot(F.col("v"), F.col("pv")) / (_norm(F.col("v")) * _norm(F.col("pv"))), 3).alias("cosine"),
        )
    )
    exact_map = {r.vec_id: r.cosine for r in exact.collect()}
    for r in lsh:
        assert exact_map[r.vec_id] == r.cosine
    # ranks are contiguous and ordered by descending cosine
    ranks = [r.rnk for r in sorted(lsh, key=lambda r: (-r.cosine, r.vec_id))]
    assert ranks == list(range(1, len(lsh) + 1))


def test_lsh_multiprobe_recall_at_least_single_probe(spark):
    """VERDICT r7 item 4: the Hamming-1 multi-probe variant widens the
    candidate set (bits+1 bucket ids), so (a) its recall against the
    exact top-k must be ≥ the single-probe variant's, (b) its k-th
    best cosine dominates single-probe's pointwise (top-k of a
    candidate SUPERSET), (c) every returned cosine is still the exact
    scorer's value, and (d) the physical plan gains NO new shuffle —
    same exchange count as single-probe."""
    qs = registry.queries()
    single = qs["sim_search_lsh"](spark, SF_DIR_ORACLE)
    multi = qs["sim_search_lsh_multiprobe"](spark, SF_DIR_ORACLE)
    exact = qs["sim_search_topk"](spark, SF_DIR_ORACLE)
    s_rows = single.collect()
    m_rows = multi.collect()
    exact_ids = {r.vec_id for r in exact.collect()}
    assert 0 < len(m_rows) <= 10

    recall_s = len({r.vec_id for r in s_rows} & exact_ids) / len(exact_ids)
    recall_m = len({r.vec_id for r in m_rows} & exact_ids) / len(exact_ids)
    assert recall_m >= recall_s, (recall_m, recall_s)

    # pointwise domination: multi's i-th cosine >= single's i-th
    s_cos = sorted((r.cosine for r in s_rows), reverse=True)
    m_cos = sorted((r.cosine for r in m_rows), reverse=True)
    assert all(m >= s for m, s in zip(m_cos, s_cos))

    # scores are REAL: cross-check against the exact scorer's cosine
    from mapreduceplusplus_spark.llm.similarity import (
        PROBE_ID,
        _as_double,
        _dot,
        _norm,
    )
    from mapreduceplusplus_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR_ORACLE, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    probe = emb.where(F.col("vec_id") == PROBE_ID).select(F.col("v").alias("pv"))
    exact_map = {
        r.vec_id: r.cosine
        for r in emb.where(F.col("vec_id") != PROBE_ID)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            F.round(
                _dot(F.col("v"), F.col("pv"))
                / (_norm(F.col("v")) * _norm(F.col("pv"))),
                3,
            ).alias("cosine"),
        )
        .collect()
    }
    for r in m_rows:
        assert exact_map[r.vec_id] == r.cosine

    # no new shuffle: identical exchange count in the physical plans
    def n_exchanges(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange")

    assert n_exchanges(multi) == n_exchanges(single)


def test_decode_real_ppm_pixels(spark):
    """The decoder is a REAL P6 parser: header dims and per-channel
    pixel means must match an independent numpy reimplementation of the
    PPM spec (header text parse + raster mean), one row per input row,
    Arrow-batched."""
    import numpy as np

    from mapreduceplusplus_spark.llm.multimodal import PPM_W

    qs = registry.queries()
    out = {r.doc_id: r for r in qs["multimodal_decode"](spark, SF_DIR_ORACLE).collect()}
    from mapreduceplusplus_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR_ORACLE, "documents").select("doc_id", "text").collect()
    assert len(out) == len(docs)
    for d in docs[:50]:
        data = d.text.encode("utf-8")
        # independent expectation: ceil-divide layout + zero padding
        n_px = max(1, (len(data) + 2) // 3)
        exp_h = max(1, (n_px + PPM_W - 1) // PPM_W)
        raster = np.frombuffer(
            data + b"\x00" * (PPM_W * exp_h * 3 - len(data)), dtype=np.uint8
        ).reshape(-1, 3)
        r = out[d.doc_id]
        assert r.ok is True and r.format == "ppm"
        assert (r.width, r.height) == (PPM_W, exp_h)
        header = b"P6\n%d %d\n255\n" % (PPM_W, exp_h)
        assert r.n_bytes == len(header) + PPM_W * exp_h * 3
        assert r.mean_r == round(float(raster[:, 0].mean()), 3)
        assert r.mean_g == round(float(raster[:, 1].mean()), 3)
        assert r.mean_b == round(float(raster[:, 2].mean()), 3)


def test_decode_rejects_foreign_payloads(spark):
    """Corrupt/non-PPM payloads must yield ok=False rows, not task
    failures — a poisoned payload can't kill a batch at scale."""
    from mapreduceplusplus_spark.llm.multimodal import decode_images

    df = spark.createDataFrame(
        [
            (1, b"not an image at all"),
            (2, b"P6\n4 4\n255\n\x01\x02"),  # truncated raster
            (3, b"P6\n2 1\n255\n" + bytes(6)),  # valid 2x1 black
        ],
        "doc_id: bigint, payload: binary",
    )
    rows = {r.doc_id: r for r in decode_images(df).collect()}
    assert rows[1].ok is False and rows[1].width is None
    assert rows[2].ok is False
    assert rows[3].ok is True and (rows[3].width, rows[3].height) == (2, 1)
    assert rows[3].mean_r == 0.0


def test_fingerprint_matches_hashlib(spark):
    qs = registry.queries()
    fp = {r.doc_id: r.exact_fp for r in qs["text_fingerprint"](spark, SF_DIR_ORACLE).collect()}
    from mapreduceplusplus_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR_ORACLE, "documents").select("doc_id", "text").limit(20).collect()
    for d in docs:
        assert fp[d.doc_id] == hashlib.md5(d.text.encode("utf-8")).hexdigest()


def test_ivf_topk_scores_and_recall(spark):
    """IVF ANN: every returned cosine must equal the exact scorer's
    value for that vec_id (score correctness is not negotiable), ranks
    must be contiguous, the result must be deterministic, and recall
    vs the exact top-k must clear the ANN floor (nprobe=4 of 16 lists;
    on the fixture the probe's neighbors cluster into few lists)."""
    qs = registry.queries()
    ivf = qs["sim_search_ivf"](spark, SF_DIR_ORACLE).collect()
    assert 0 < len(ivf) <= 10
    ivf2 = qs["sim_search_ivf"](spark, SF_DIR_ORACLE).collect()
    assert sorted(map(tuple, ivf)) == sorted(map(tuple, ivf2))

    exact = qs["sim_search_topk"](spark, SF_DIR_ORACLE).collect()
    exact_cos = {r.vec_id: r.cosine for r in exact}

    from mapreduceplusplus_spark.llm.similarity import PROBE_ID, _as_double, _dot, _norm
    from mapreduceplusplus_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR_ORACLE, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    probe = emb.where(F.col("vec_id") == PROBE_ID).select(F.col("v").alias("pv"))
    all_cos = {
        r.vec_id: r.cosine
        for r in emb.where(F.col("vec_id") != PROBE_ID)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            F.round(
                _dot(F.col("v"), F.col("pv")) / (_norm(F.col("v")) * _norm(F.col("pv"))), 3
            ).alias("cosine"),
        )
        .collect()
    }
    for r in ivf:
        assert all_cos[r.vec_id] == r.cosine
    recall = len({r.vec_id for r in ivf} & set(exact_cos)) / len(exact_cos)
    assert recall >= 0.5, f"ivf recall {recall:.2f}"


def test_ivf_sq8_composite_gate_subset_scores_and_recall_bound(spark):
    """sim_search_ivf_sq8 (r16): the composite must (a) be
    deterministic; (b) return only vectors the IVF gate admits (its
    SQ8 stage ranks WITHIN the probed cells — recomputed here from
    _ivf_seed_lists directly); (c) return EXACT cosines (equal to the
    brute-force scorer's, the repo-wide ANN contract); (d) never beat
    the plain-IVF tier's recall (the SQ8 pool is a subset of the gate,
    so any exact-top-k member the composite finds is also in IVF's
    exact-ranked top-k — a theorem, pinned); (e) keep adc within the
    int8 quantization band of the true cosine for every survivor."""
    from mapreduceplusplus_spark.llm import similarity as S

    qs = registry.queries()
    got = qs["sim_search_ivf_sq8"](spark, SF_DIR_ORACLE).collect()
    assert 0 < len(got) <= S.TOP_K
    again = qs["sim_search_ivf_sq8"](spark, SF_DIR_ORACLE).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))
    assert [r.rnk for r in sorted(got, key=lambda r: r.rnk)] == list(
        range(1, len(got) + 1)
    )

    assigned, _, probe_cids = S._ivf_seed_lists(spark, SF_DIR_ORACLE)
    gate = {
        r.vec_id
        for r in assigned.where(
            F.col("cid").isin(*probe_cids)
            & (F.col("vec_id") != S.PROBE_ID)
        )
        .select("vec_id")
        .collect()
    }
    assert {r.vec_id for r in got} <= gate

    exact_ids = {
        r.vec_id: r.cosine
        for r in qs["sim_search_topk"](spark, SF_DIR_ORACLE).collect()
    }
    for r in got:
        if r.vec_id in exact_ids:
            assert r.cosine == exact_ids[r.vec_id]
        # int8 band: |adc - cosine| ≤ d·(1/254)·mean|pq| / (‖q‖‖x‖) —
        # loose structural bound on the fixture: half a code step per
        # dim never moves the reconstructed dot past ~0.05 cosine
        assert abs(r.adc - r.cosine) < 0.05, r

    ivf_hits = {
        r.vec_id for r in qs["sim_search_ivf"](spark, SF_DIR_ORACLE).collect()
    } & set(exact_ids)
    sq8_hits = {r.vec_id for r in got} & set(exact_ids)
    assert sq8_hits <= ivf_hits


def test_ivf_sq8_partitioned_rows_identical_and_code_scan_pruned(spark):
    """sim_search_ivf_sq8_partitioned must (a) return ROW-IDENTICAL
    results to the in-plan composite (same assignment, same codes,
    same ranking keys — the variant is a physical strategy under one
    oracle); (b) have its probe really served by the cid-partitioned
    code index: the index FileScan must carry a cid PartitionFilters
    entry (file-listing pruning, not a post-scan filter) and its
    ReadSchema must be the 1 B/dim code columns — NOT the float
    vector column (the bytes axis of the composite's contract)."""
    import re

    qs = registry.queries()
    part_df = qs["sim_search_ivf_sq8_partitioned"](spark, SF_DIR_ORACLE)
    part = sorted(map(tuple, part_df.collect()))
    base = sorted(
        map(tuple, qs["sim_search_ivf_sq8"](spark, SF_DIR_ORACLE).collect())
    )
    assert part == base
    assert len(part) > 0

    plan = part_df._jdf.queryExecution().executedPlan().toString()
    scans = [
        ln for ln in plan.split("\n")
        if "FileScan" in ln and "ivf_sq8_index_" in ln
    ]
    assert scans, f"code-index scan missing from plan:\n{plan}"
    for ln in scans:
        pf = re.search(r"PartitionFilters: \[([^\]]*)\]", ln)
        assert pf and "cid" in pf.group(1), f"no cid partition pruning: {ln}"
        rs = re.search(r"ReadSchema: (\S+)", ln)
        assert rs and "codes:array<tinyint>" in rs.group(1), ln
        assert "v:array" not in rs.group(1), f"float column in code scan: {ln}"


def test_frame_sample_real_container_walk(spark):
    """The frame sampler REALLY parses a concatenation of P6 frames:
    per-doc frame count, timestamps, and total bytes must match an
    independent walk of the same container built here from the raw
    document bytes."""
    from mapreduceplusplus_spark.llm.multimodal import _ppm_frames

    qs = registry.queries()
    out = {r.doc_id: r for r in qs["multimodal_frame_sample"](spark, SF_DIR_ORACLE).collect()}
    from mapreduceplusplus_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR_ORACLE, "documents").select("doc_id", "text").collect()
    assert len(out) == len(docs)
    for d in docs[:50]:
        frames = _ppm_frames(d.text.encode("utf-8"))
        r = out[d.doc_id]
        assert r.n_frames == len(frames)
        assert r.first_ts_ms == 0 and r.last_ts_ms == (len(frames) - 1) * 1000
        assert r.total_frame_bytes == sum(len(f) for f in frames)


def test_frame_sampler_stops_at_garbage(spark):
    """A container with trailing garbage or a truncated final frame
    yields exactly the complete leading frames."""
    from mapreduceplusplus_spark.llm.multimodal import ppm_encode, sample_frames

    good = ppm_encode(b"hello world, enough bytes here")
    df = spark.createDataFrame(
        [
            (1, good + b"GARBAGE TRAILER"),
            (2, good + good[: len(good) // 2]),  # truncated 2nd frame
            (3, good + good),
            (4, good + b"P6\n0 0\n255\n" * 100),  # zero-area pseudo-frames
            (5, good + b"P6\n2 1\n15\n" + bytes(6)),  # wrong maxval
        ],
        "doc_id: bigint, payload: binary",
    )
    counts = {
        r.doc_id: r.cnt
        for r in sample_frames(df).groupBy("doc_id").agg(F.count("*").alias("cnt")).collect()
    }
    # zero-area / wrong-maxval frames are corruption, not frames: the
    # walk keeps the leading good frame and stops
    assert counts == {1: 1, 2: 1, 3: 2, 4: 1, 5: 1}


def test_resize_exact_nearest_neighbor_pixels(spark):
    """Resize is REAL nearest-neighbor resampling: on a hand-built 2×2
    image upscaled to 4×4, every output pixel must equal the source
    pixel the floor-index rule selects, and the output must be a valid
    P6 the decoder round-trips."""
    from mapreduceplusplus_spark.llm.multimodal import ppm_decode, resize_images

    # 2×2 image with 4 distinct solid pixels
    px = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (7, 8, 9)]
    raster = b"".join(bytes(p) for p in px)
    df = spark.createDataFrame(
        [(1, b"P6\n2 2\n255\n" + raster)], "doc_id: bigint, payload: binary"
    )
    row = resize_images(df, 4, 4).collect()[0]
    assert (row.width, row.height, row.orig_bytes) == (4, 4, 11 + 12)
    w, h, out = ppm_decode(bytes(row.payload))
    assert (w, h) == (4, 4)
    # nearest-neighbor with yi = floor(y*2/4): rows 0,1 -> src 0; 2,3 -> src 1
    for y in range(4):
        for x in range(4):
            assert tuple(out[y, x]) == px[(y // 2) * 2 + (x // 2)], (y, x)


def test_feature_vector_real_pixel_statistics(spark):
    """Feature-extract computes REAL pixel statistics: the 16-dim
    vector (channel means/stds, 8-bin luminance histogram, log-pixel-
    count, aspect) must match an independent numpy computation on the
    same decoded raster, unit-normalized."""
    import numpy as np

    from mapreduceplusplus_spark.llm.multimodal import (
        FEATURE_DIM,
        extract_features,
        ppm_encode,
    )

    data = bytes(range(256)) * 3
    df = spark.createDataFrame([(1, ppm_encode(data))], "doc_id: bigint, payload: binary")
    row = extract_features(df).collect()[0]
    assert len(row.feature) == FEATURE_DIM

    n_px = (len(data) + 2) // 3
    h = (n_px + 15) // 16
    flat = np.frombuffer(
        data + b"\x00" * (16 * h * 3 - len(data)), dtype=np.uint8
    ).reshape(-1, 3).astype(np.float64)
    lum = flat @ np.array([0.299, 0.587, 0.114])
    v = np.concatenate(
        [
            flat.mean(axis=0) / 255.0,
            flat.std(axis=0) / 255.0,
            np.histogram(lum, bins=8, range=(0.0, 256.0))[0] / len(lum),
            [np.log10(16 * h), 16 / h],
        ]
    )
    v = (v / np.linalg.norm(v)).astype(np.float32)
    assert np.allclose(np.array(row.feature, dtype=np.float32), v, atol=1e-6)
    assert abs(float(np.linalg.norm(row.feature)) - 1.0) < 1e-5


def test_stratified_sample_rates_and_determinism(spark):
    """sampleBy with a fixed seed: identical rows on every run, empirical
    per-stratum rates within a loose Bernoulli tolerance, full-rate
    strata kept verbatim."""
    from mapreduceplusplus_spark.llm.pipeline import SAMPLE_FRACTIONS
    from mapreduceplusplus_spark.sources.tables import load_table

    qs = registry.queries()
    s1 = {r.doc_id for r in qs["sample_stratified"](spark, SF_DIR_ORACLE).collect()}
    s2 = {r.doc_id for r in qs["sample_stratified"](spark, SF_DIR_ORACLE).collect()}
    assert s1 == s2 and len(s1) > 0

    docs = load_table(spark, SF_DIR_ORACLE, "documents").select("doc_id", "lang").collect()
    by_lang = {}
    for r in docs:
        by_lang.setdefault(r.lang, set()).add(r.doc_id)
    for lang, frac in SAMPLE_FRACTIONS.items():
        if lang not in by_lang:
            continue
        kept = len(by_lang[lang] & s1)
        total = len(by_lang[lang])
        if frac == 1.0:
            assert kept == total, f"{lang}: full-rate stratum must keep all"
        else:
            # Bernoulli(n≈250, p=0.5): allow ±4σ
            import math

            sigma = math.sqrt(total * frac * (1 - frac))
            assert abs(kept - total * frac) <= 4 * sigma, (lang, kept, total)


@pytest.mark.slow
def test_ngram_prefix_losslessness_adversarial(spark):
    """Directly exercise the prefix/position-filter arithmetic of
    ``_ngram_pairs`` on corpora built to sit ON its boundaries —
    places a fixture-corpus invariance test can never reach:

    - 1- and 2-shingle documents (prefix length clamps to 1);
    - identical documents (Jaccard exactly 1.0);
    - a pair at exactly the 0.8 threshold (|a∩b|=8, |a|=|b|=9 → 8/10);
    - a clearly-below pair (|a|=|b|=9 sharing 7 → 7/11 ≈ 0.636, absent);
    - a pair JUST under threshold (|a|=|b|=44 sharing 39 → 39/49 ≈
      0.7959, must be absent — the tightest integer gap near 0.8 at
      this size, so an off-by-one in the ceiling arithmetic flips it);
    - prefix lengths where float ceil(0.8*n) rounds the wrong way
      (n = 45: exact ceil is 36, float computes 37);
    - many documents sharing one hot shingle (df-order tail) with no
      real similarity.

    For every corpus the filtered result must equal the brute-force
    full-inverted-index result, and the threshold cases must be
    present/absent exactly."""
    from mapreduceplusplus_spark.llm.dedup import _ngram_pairs

    def mk(docs):  # docs: {doc_id: [shingle, ...]}
        rows = [(i, sorted(set(sh))) for i, sh in docs.items() if sh]
        return spark.createDataFrame(rows, "doc_id: bigint, sh: array<string>")

    def pairs(df):
        return sorted((r.doc_a, r.doc_b, r.jaccard) for r in df.collect())

    g = lambda k, n: [f"g{k}_{j}" for j in range(n)]  # noqa: E731

    corpora = {
        "tiny_docs": {
            1: ["a b c"], 2: ["a b c"],            # 1-shingle identical
            3: ["a b c", "x y z"], 4: ["a b c", "x y z"],
            5: ["q r s"],                            # singleton, no pair
        },
        "exact_threshold": {
            # |a|=|b|=9, share 8 → J = 8/10 = 0.8 exactly: MUST appear
            1: g("s", 8) + ["only a"],
            2: g("s", 8) + ["only b"],
            # |c|=|d|=9, share 7 → 7/11 ≈ 0.636: must NOT appear
            3: g("t", 7) + ["c x", "c y"],
            4: g("t", 7) + ["d x", "d y"],
        },
        "just_under_threshold": {
            # |a|=|b|=44, share 39 → J = 39/49 ≈ 0.7959: the closest an
            # equal-size integer pair gets to 0.8 from below at this
            # size — must NOT appear (share 40 would be 40/48 ≈ 0.833)
            1: g("n", 39) + [f"a{j} x" for j in range(5)],
            2: g("n", 39) + [f"b{j} x" for j in range(5)],
        },
        "float_ceil_n45": {
            # n=45 each, share 41 → J = 41/49 ≈ 0.837 ≥ 0.8.  With the
            # float-ceil bug the prefix would be 45-37+1=9 instead of
            # 10 — still likely caught, but the arithmetic is pinned
            # by equality with brute force either way.
            1: g("c", 41) + ["a1 x", "a2 x", "a3 x", "a4 x"],
            2: g("c", 41) + ["b1 x", "b2 x", "b3 x", "b4 x"],
        },
        "hot_shingle": {
            # 30 docs all share one stop-phrase; no pair qualifies
            i: [f"u{i} v", f"w{i} z", "the hot one"] for i in range(30)
        },
    }
    for name, docs in corpora.items():
        df = mk(docs)
        got = pairs(_ngram_pairs(df, prefix=True))
        brute = pairs(_ngram_pairs(df, prefix=False))
        assert got == brute, f"{name}: filtered != brute force"
    # threshold semantics, checked on the corpus built for them
    thr = pairs(_ngram_pairs(mk(corpora["exact_threshold"]), prefix=True))
    assert (1, 2, 0.8) in thr, "exact-0.8 pair must be reported"
    assert not any(a == 3 and b == 4 for a, b, _ in thr), "sub-threshold pair leaked"
    near = pairs(_ngram_pairs(mk(corpora["just_under_threshold"]), prefix=True))
    assert near == [], f"0.7959 pair leaked past the 0.8 threshold: {near}"


def test_audio_energy_exact_int16_framing(spark):
    """The audio operator REALLY parses int16 LE PCM: on hand-built
    waveforms the frame count and exact Σx² energies must match an
    independent struct-module reimplementation, including the ragged
    last frame and the odd-trailing-byte drop."""
    import struct

    from mapreduceplusplus_spark.llm.multimodal import AUDIO_FRAME, audio_frame_energy

    waves = {
        1: [0, 1, -1, 32767, -32768] * 120,      # 600 samples: 2 frames, ragged
        2: [1000] * AUDIO_FRAME,                  # exactly one full frame
        3: [],                                    # empty payload
    }
    rows = [
        (k, struct.pack(f"<{len(v)}h", *v) + (b"\x07" if k == 1 else b""))
        for k, v in waves.items()
    ]
    df = spark.createDataFrame(rows, "doc_id: bigint, payload: binary")
    got = {r.doc_id: r for r in audio_frame_energy(df).collect()}
    for k, v in waves.items():
        frames = [v[i : i + AUDIO_FRAME] for i in range(0, len(v), AUDIO_FRAME)]
        energies = [sum(x * x for x in fr) for fr in frames]
        r = got[k]
        assert r.n_samples == len(v), k
        assert r.n_frames == len(frames), k
        assert r.total_energy == sum(energies), k
        assert r.max_frame_energy == (max(energies) if energies else 0), k


def test_scene_cuts_match_independent_sad(spark):
    """The scene-cut scorer's integer SAD per transition must match an
    independent numpy walk of the same containers (decode via
    ppm_decode, diff on the top-left overlap, floor-divide by pixels),
    and a constructed container with an identical-frame transition
    followed by an inverted-frame transition must score (0, 255) —
    exactly one detected cut."""
    import numpy as np

    from mapreduceplusplus_spark.llm.multimodal import (
        SCENE_CUT_THRESHOLD,
        _ppm_frames,
        detect_scene_cuts,
        ppm_decode,
        ppm_encode,
    )

    qs = registry.queries()
    out = {
        r.doc_id: r
        for r in qs["multimodal_scene_cuts"](spark, SF_DIR_ORACLE).collect()
    }
    from mapreduceplusplus_spark.sources.tables import load_table

    docs = (
        load_table(spark, SF_DIR_ORACLE, "documents")
        .select("doc_id", "text")
        .collect()
    )
    for d in docs[:30]:
        frames = [ppm_decode(f) for f in _ppm_frames(d.text.encode("utf-8"))]
        sads = []
        for prev, cur in zip(frames, frames[1:]):
            (pw, ph, pr), (cw, ch, cr) = (
                (prev[0], prev[1], prev[2]),
                (cur[0], cur[1], cur[2]),
            )
            hh, ww = min(ph, ch), min(pw, cw)
            a = cr[:hh, :ww, :].astype(np.int64)
            b = pr[:hh, :ww, :].astype(np.int64)
            sads.append(int(np.abs(a - b).sum()) // (hh * ww * 3))
        if not sads:
            assert d.doc_id not in out  # single-frame: no transitions
            continue
        r = out[d.doc_id]
        assert r.n_transitions == len(sads)
        assert r.max_sad == max(sads)
        assert r.n_cuts == sum(s >= SCENE_CUT_THRESHOLD for s in sads)
        assert r.mean_sad_floor == sum(sads) // len(sads)

    # constructed hard cut: frame A, frame A again (SAD 0), then A
    # inverted — per-byte |x - (255-x)| = |2x-255|, mean 208 here —
    # exactly one transition over threshold
    base = bytes(range(48)) * 2  # 96 bytes -> 4x8 raster at width 4
    a = ppm_encode(base, width=4)
    inv = ppm_encode(bytes(255 - b for b in base), width=4)
    expected_cut_sad = sum(abs(2 * x - 255) for x in base) // len(base)
    assert expected_cut_sad >= SCENE_CUT_THRESHOLD
    payload = a + a + inv
    df = spark.createDataFrame([(1, bytearray(payload))], "doc_id long, payload binary")
    rows = detect_scene_cuts(df).orderBy("frame_idx").collect()
    assert [r.sad_per_px for r in rows] == [0, expected_cut_sad]


def test_image_phash_independent_and_banding_lossless(spark):
    """Image perceptual-hash dedup pins:
    1. the registered hashes equal an independent numpy aHash over the
       same encoded payloads;
    2. a constructed pair of near-identical images within the Hamming
       radius MUST be found by the band join (pigeonhole: ≤6 flips
       cannot touch all 8 bands) and verified;
    3. a far pair (alternating-bit complement) must NOT be a near-dup."""
    import numpy as np

    from mapreduceplusplus_spark.llm.multimodal import (
        PHASH_HAMMING_MAX,
        _ahash64,
        image_phash,
        ppm_decode,
        ppm_encode,
    )

    qs = registry.queries()
    out = {
        r.doc_id: r
        for r in qs["multimodal_image_dedup_phash"](
            spark, SF_DIR_ORACLE
        ).collect()
    }
    from mapreduceplusplus_spark.sources.tables import load_table

    docs = (
        load_table(spark, SF_DIR_ORACLE, "documents")
        .select("doc_id", "text")
        .collect()
    )
    assert len(out) == len(docs)
    for d in docs[:40]:
        img = ppm_decode(ppm_encode(d.text.encode("utf-8")))
        assert img is not None
        assert out[d.doc_id].phash == _ahash64(img[2])

    # constructed near pair: gradient image vs the same with a small
    # localized bright patch — identical everywhere else, so the two
    # aHashes differ in few bits (≤ the radius)
    base = np.tile(np.arange(0, 256, 16, dtype=np.uint8).repeat(3), 16 * 8)
    raw = bytes(base[: 16 * 16 * 3])
    a_img = ppm_encode(raw, width=16)
    mod = bytearray(raw)
    for i in range(0, 24):  # brighten an 8-px corner region (~4 bits)
        mod[i] = 255
    b_img = ppm_encode(bytes(mod), width=16)
    df = spark.createDataFrame(
        [(1, bytearray(a_img)), (2, bytearray(b_img))],
        "doc_id long, payload binary",
    )
    h = {r.doc_id: r.phash for r in image_phash(df).collect()}
    ham = bin((h[1] ^ h[2]) & ((1 << 64) - 1)).count("1")
    assert 0 < ham <= PHASH_HAMMING_MAX, ham
    # pigeonhole: within the radius, at least one 8-bit band is equal
    assert any(
        (h[1] >> (8 * i)) & 0xFF == (h[2] >> (8 * i)) & 0xFF
        for i in range(8)
    )
    # and the adversarial case the 4x16 layout would MISS: distance-4
    # hashes with one flip in each 16-bit quarter still share an 8-bit
    # band (exhaustive over the flip positions within each quarter)
    for bits in [(0, 16, 32, 48), (15, 31, 47, 63), (7, 23, 39, 55)]:
        x = 0
        y = x
        for b_ in bits:
            y ^= 1 << b_
        assert not any(  # every 16-bit band differs -> 4x16 misses it
            (x >> (16 * i)) & 0xFFFF == (y >> (16 * i)) & 0xFFFF
            for i in range(4)
        )
        assert any(  # but an 8-bit band survives -> 8x8 finds it
            (x >> (8 * i)) & 0xFF == (y >> (8 * i)) & 0xFF
            for i in range(8)
        )


def test_winnowing_detection_guarantee(spark):
    """The winnowing selection guarantee (Schleimer et al.): any shared
    token run of length >= w + k - 1 = 6 words MUST yield a shared
    fingerprint — asserted over 50 random plantings by direct
    fingerprint-set computation; the Spark HOF pipeline is then
    cross-checked fingerprint-for-fingerprint against the Python
    reference on one document."""
    import hashlib
    import random

    from pyspark.sql import functions as F

    from mapreduceplusplus_spark.llm.textstats import _WIN_K, _WIN_W, _toks

    rng = random.Random(7)
    # letters only: the tokenizer is [a-z]+, digits would split tokens
    vocab = [
        "w" + chr(97 + i % 26) + chr(97 + (i // 26) % 26) for i in range(500)
    ]

    def fps_of(words):
        grams = [
            hashlib.md5(" ".join(words[i : i + _WIN_K]).encode()).hexdigest()
            for i in range(len(words) - _WIN_K + 1)
        ]
        return {
            min(grams[i : i + _WIN_W])
            for i in range(len(grams) - _WIN_W + 1)
        }

    run_len = _WIN_W + _WIN_K - 1  # 6
    for _ in range(50):
        shared = [rng.choice(vocab) for _ in range(run_len)]
        a = [rng.choice(vocab) for _ in range(30)] + shared + [
            rng.choice(vocab) for _ in range(30)
        ]
        b = [rng.choice(vocab) for _ in range(25)] + shared + [
            rng.choice(vocab) for _ in range(35)
        ]
        assert fps_of(a) & fps_of(b), "guarantee violated for 6-word run"

    # cross-check the Spark HOF pipeline against the reference python
    # fingerprinting on one planted pair: same fingerprint sets
    a_txt = " ".join(
        [rng.choice(vocab) for _ in range(20)]
        + [rng.choice(vocab) for _ in range(run_len)] * 2
        + [rng.choice(vocab) for _ in range(20)]
    )
    df = spark.createDataFrame([(0, a_txt)], "doc_id long, text string")
    toks = df.select("doc_id", _toks(F.col("text")).alias("ws"))
    k = F.greatest(F.size("ws") - (_WIN_K - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice("ws", j + 1, k) for j in range(_WIN_K)])
    grams = F.transform(
        z, lambda x: F.md5(F.concat_ws(" ", *[x[str(j)] for j in range(_WIN_K)]))
    )
    hs = toks.select("doc_id", grams.alias("hs"))
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("hs") - (_WIN_W - 1)),
            lambda i: F.array_min(F.slice("hs", i, _WIN_W)),
        )
    )
    got = set(hs.select(F.explode(fps).alias("f")).toPandas()["f"])
    assert got == fps_of(a_txt.split())


def test_winnowing_registered_query_end_to_end(spark, tmp_path):
    """Drive the REGISTERED text_winnowing_matches query on a planted
    corpus written as a documents.parquet fixture: a pair sharing TWO
    disjoint 6-word runs must surface (each run guarantees >= 1 shared
    fingerprint, so the query's >= 2 floor passes), and a vocabulary-
    disjoint pair must NOT appear — exercising the pair join, the
    doc_a < doc_b ordering, and the HAVING floor the unit test above
    cannot see."""
    import random

    from mapreduceplusplus_spark import registry
    from mapreduceplusplus_spark.llm.textstats import _WIN_K, _WIN_W

    rng = random.Random(11)
    voc_ab = ["a" + chr(97 + i % 26) + chr(97 + (i // 26) % 26) for i in range(300)]
    voc_c = ["z" + chr(97 + i % 26) + chr(97 + (i // 26) % 26) for i in range(300)]
    run_len = _WIN_W + _WIN_K - 1  # 6
    run1 = [rng.choice(voc_ab) for _ in range(run_len)]
    run2 = [rng.choice(voc_ab) for _ in range(run_len)]
    doc_a = (
        [rng.choice(voc_ab) for _ in range(20)]
        + run1
        + [rng.choice(voc_ab) for _ in range(20)]
        + run2
        + [rng.choice(voc_ab) for _ in range(20)]
    )
    doc_b = (
        [rng.choice(voc_ab) for _ in range(15)]
        + run2
        + [rng.choice(voc_ab) for _ in range(25)]
        + run1
        + [rng.choice(voc_ab) for _ in range(15)]
    )
    # disjoint vocabulary: cannot share any fingerprint with a/b
    doc_c = [rng.choice(voc_c) for _ in range(80)]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [
            (0, "en", " ".join(doc_a)),
            (1, "en", " ".join(doc_b)),
            (2, "en", " ".join(doc_c)),
        ],
        "doc_id long, lang string, text string",
    ).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    from mapreduceplusplus_spark.llm.dedup import release_shingles

    release_shingles()  # the query now memoizes its fingerprint table
    try:
        rows = (
            registry.queries()["text_winnowing_matches"](spark, sf_dir).collect()
        )
    finally:
        release_shingles()  # don't leak a tmp_path-keyed persist
    got = {(r.doc_a, r.doc_b): r.n_shared_fp for r in rows}
    assert (0, 1) in got and got[(0, 1)] >= 2, got
    assert all(2 not in pair for pair in got), got


def test_bm25_ranking_semantics(spark, tmp_path):
    """Pin the three BM25 behaviors on a planted corpus: (1) higher tf
    of a query term ranks higher, (2) at equal tf a LONGER document
    ranks lower (b-length normalization), (3) documents containing no
    query term are absent, and the materialized rnk is the achieved
    dense 1..k order."""
    from mapreduceplusplus_spark import registry

    filler = ["qq" + chr(97 + i) for i in range(20)]  # never a query term
    mk = lambda words: " ".join(words)
    docs = [
        # tf(spark)=4, short
        (0, "en", mk(["spark"] * 4 + filler[:8])),
        # tf(spark)=1, same length as doc 2's prefix (short)
        (1, "en", mk(["spark"] + filler[:11])),
        # tf(spark)=1, 5x longer -> length-normalized below doc 1
        (2, "en", mk(["spark"] + filler * 3)),
        # no query terms at all
        (3, "en", mk(filler[:12])),
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        docs, "doc_id long, lang string, text string"
    ).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    rows = registry.queries()["text_bm25_search"](spark, sf_dir).collect()
    order = [r.doc_id for r in rows]
    assert order == [0, 1, 2], order          # tf then length-norm
    assert [r.rnk for r in rows] == [1, 2, 3]
    scores = [r.bm25 for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert 3 not in order                      # zero-score doc dropped


def test_heavy_hitters_lossless_under_eviction(spark, tmp_path):
    """Adversarial pin for text_heavy_hitters: a vocabulary far larger
    than the per-batch counter budget (so Misra-Gries actually evicts)
    with one term planted JUST above the n/64 threshold and one just
    below. The lossless claim: the above-threshold term survives the
    candidate filter and verifies exactly; the below-threshold term
    (and every filler) is absent."""
    from mapreduceplusplus_spark import registry
    from mapreduceplusplus_spark.llm.dedup import release_shingles
    from mapreduceplusplus_spark.llm.textstats import _HH_DEN, _HH_K

    # ~6400 distinct filler terms >> _HH_K=256 counters
    fillers = [
        "f" + chr(97 + i % 26) + chr(97 + (i // 26) % 26) + chr(97 + (i // 676) % 26)
        for i in range(6400)
    ]
    body = []
    for rep in range(3):                      # each filler 3x
        body.extend(fillers)
    n_filler = len(body)
    # choose counts so total n makes 'heavyterm' strictly above n/64
    # and 'lightterm' strictly below: solve around n ~ n_filler + h + l
    h = (n_filler // (_HH_DEN - 1)) + 40      # comfortably above
    l_cnt = 10                                # far below
    body += ["heavyterm"] * h + ["lightterm"] * l_cnt
    n = len(body)
    assert h * _HH_DEN > n and l_cnt * _HH_DEN < n
    import random

    rng = random.Random(3)
    rng.shuffle(body)
    # split across several docs so batches see mixed streams
    docs, per = [], 2000
    for i in range(0, len(body), per):
        docs.append((i // per, "en", " ".join(body[i : i + per])))
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        docs, "doc_id long, lang string, text string"
    ).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    release_shingles()                        # no stale mg_partials
    rows = registry.queries()["text_heavy_hitters"](spark, sf_dir).collect()
    release_shingles()
    got = {r.term: r.n_occurrences for r in rows}
    assert got == {"heavyterm": h}, got


def test_mixture_entropy_monoculture_and_uniform(spark, tmp_path):
    """Pin corpus_mixture_entropy's endpoints on a planted corpus: a
    single-source language has Herfindahl 10000 bp and entropy exactly
    0; a two-uniform-source language has Herfindahl 5000 bp and
    entropy ln(2) = 693147 micro-nats (+-2 for the per-term floor
    quantization)."""
    from mapreduceplusplus_spark import registry

    rows = []
    for i in range(10):                       # 'aa': all from one source
        rows.append((len(rows), "aa", "only", "text"))
    for i in range(8):                        # 'bb': 2 uniform sources
        rows.append((len(rows), "bb", "s" + str(i % 2), "text"))
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    ).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    got = {
        r.lang: r
        for r in registry.queries()["corpus_mixture_entropy"](
            spark, sf_dir
        ).collect()
    }
    assert got["aa"].herfindahl_bp == 10000
    assert got["aa"].entropy_micro_nats == 0
    assert got["aa"].share_bp == 10 * 10000 // 18
    assert got["bb"].herfindahl_bp == 5000
    assert abs(got["bb"].entropy_micro_nats - 693147) <= 2


def test_weighted_priority_sample_matches_python_recompute(spark, tmp_path):
    """Independent reimplementation pin for sample_weighted_priority: a
    pure-Python recompute of the Knuth draw and the u/w priority key
    over a planted corpus must select the SAME documents in the same
    order; zero-weight docs are never sampled; and raising a doc's
    weight can only improve (never worsen) its rank."""
    from mapreduceplusplus_spark import registry
    from mapreduceplusplus_spark.llm.pipeline import (
        _SPLIT_MOD,
        _SPLIT_MULT,
        _WS_K,
        _WS_M,
    )

    rows = [(i, "en", "x", (i * 37) % 900 + 1) for i in range(200)]
    rows.append((500, "en", "x", 0))            # zero weight: excluded
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, lang string, text string, n_chars long"
    ).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    got = registry.queries()["sample_weighted_priority"](spark, sf_dir).collect()

    def key(doc_id, w):
        u = (doc_id * _SPLIT_MULT % _SPLIT_MOD) % _WS_M + 1
        return (u / _WS_M) / w          # same op order as both engines

    expect = sorted(
        ((key(d, w), d, w) for d, _, _, w in rows if w > 0)
    )[:_WS_K]
    assert [(r.doc_id, r.weight) for r in got] == [
        (d, w) for _, d, w in expect
    ]
    assert [r.rnk for r in got] == list(range(1, len(expect) + 1))
    assert all(r.doc_id != 500 for r in got)
    # weight monotonicity: same u, larger w -> smaller key
    assert key(7, 100) > key(7, 1000)


def test_drop_reasons_consistent_with_clean_corpus(spark):
    """The governance invariant: pipeline_drop_reasons' kept set must
    equal pipeline_clean_corpus' survivor set exactly (same gates,
    same keeper policy), every verdict must be one of the four
    contract values with first-gate-wins precedence, every duplicate
    must point at a KEPT keeper, and every doc must appear exactly
    once."""
    from mapreduceplusplus_spark import registry
    from tests.conftest import SF_DIR_ORACLE

    reasons = registry.queries()["pipeline_drop_reasons"](
        spark, SF_DIR_ORACLE
    ).collect()
    clean = registry.queries()["pipeline_clean_corpus"](
        spark, SF_DIR_ORACLE
    ).collect()

    kept = {r.doc_id for r in reasons if r.verdict == "kept"}
    assert kept == {r.doc_id for r in clean}
    assert len(reasons) == len({r.doc_id for r in reasons})  # one row per doc
    assert {r.verdict for r in reasons} <= {
        "kept", "low_quality", "lang", "duplicate"
    }
    for r in reasons:
        if r.verdict == "duplicate":
            assert r.kept_doc_id in kept and r.kept_doc_id != r.doc_id
        else:
            assert r.kept_doc_id is None


def test_drop_reasons_null_gates_take_drop_verdicts(spark, tmp_path):
    """Review r7s4 regression: NULL lang (or NULL-scored) documents
    must take a DROP verdict — bare three-valued logic let a NULL gate
    fall through every WHEN into 'kept' (or 'duplicate' with a NULL
    keeper), on BOTH engines at once, so only a planted-NULL fixture
    can see it. Also: a NULL-lang doc sharing a fingerprint with a
    kept doc is dropped by the LANG gate, never as 'duplicate'."""
    from mapreduceplusplus_spark import registry

    good = "the and of to a in is it " * 20      # high-quality English
    rows = [
        (1, "en", good, len(good)),              # kept
        (2, None, good, len(good)),              # NULL lang, same bag_fp
        (3, None, good + " extra", len(good) + 6),  # NULL lang, unique fp
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, lang string, text string, n_chars long"
    ).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    got = {
        r.doc_id: r
        for r in registry.queries()["pipeline_drop_reasons"](
            spark, sf_dir
        ).collect()
    }
    assert got[1].verdict == "kept"
    assert got[2].verdict == "lang" and got[2].kept_doc_id is None
    assert got[3].verdict == "lang" and got[3].kept_doc_id is None


def test_ivf_kmeans_refined_scores_recall_and_movement(spark):
    """The k-means-refined IVF variant: (a) deterministic across runs
    (the integer micro-unit Lloyd update is partition-order-exact),
    (b) every returned cosine equals the exact scorer's value, (c)
    recall vs the exact top-k clears the same ANN floor as the
    literal-centroid IVF, and (d) the refinement REALLY moves the
    centroids (Lloyd iterations are not a no-op on the seeds)."""
    from mapreduceplusplus_spark.llm.similarity import (
        IVF_CENTROIDS,
        IVF_KMEANS_ITERS,
        PROBE_ID,
        _as_double,
        _dot,
        _explode_micro,
        _lloyd_refine,
        _norm,
    )
    from mapreduceplusplus_spark.sources.tables import load_table

    qs = registry.queries()
    km = qs["sim_search_ivf_kmeans"](spark, SF_DIR_ORACLE).collect()
    km2 = qs["sim_search_ivf_kmeans"](spark, SF_DIR_ORACLE).collect()
    assert 0 < len(km) <= 10
    assert sorted(map(tuple, km)) == sorted(map(tuple, km2))

    emb = load_table(spark, SF_DIR_ORACLE, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    probe = emb.where(F.col("vec_id") == PROBE_ID).select(F.col("v").alias("pv"))
    all_cos = {
        r.vec_id: r.cosine
        for r in emb.where(F.col("vec_id") != PROBE_ID)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            F.round(
                _dot(F.col("v"), F.col("pv"))
                / (_norm(F.col("v")) * _norm(F.col("pv"))),
                3,
            ).alias("cosine"),
        )
        .collect()
    }
    for r in km:
        assert all_cos[r.vec_id] == r.cosine

    exact_ids = {r.vec_id for r in qs["sim_search_topk"](spark, SF_DIR_ORACLE).collect()}
    recall = len({r.vec_id for r in km} & exact_ids) / len(exact_ids)
    assert recall >= 0.5, f"ivf-kmeans recall {recall:.2f}"

    # (d) refinement moves the seeds
    seed_rows = (
        emb.where(F.col("vec_id") < IVF_CENTROIDS).select("vec_id", "v").collect()
    )
    seeds = sorted((int(r.vec_id), [float(x) for x in r.v]) for r in seed_rows)
    refined = _lloyd_refine(spark, _explode_micro(emb), seeds, IVF_KMEANS_ITERS)
    moved = sum(
        1
        for (cid_s, sv), (cid_r, rv) in zip(seeds, refined)
        if any(abs(a - b) > 1e-9 for a, b in zip(sv, rv))
    )
    assert moved > 0, "Lloyd refinement left every centroid at its seed"


def test_lsh_batch_equijoin_plan_scores_and_ranks(spark):
    """The batched LSH form: (a) the physical plan joins on the bucket
    id — NO CartesianProduct / BroadcastNestedLoopJoin node anywhere
    (the whole point vs the broadcast k-NN join), (b) every returned
    (probe, candidate) pair shares a bucket, (c) every cosine equals
    the exact scorer's value for that pair, (d) per-probe ranks are
    contiguous from 1, and (e) the result is deterministic."""
    from mapreduceplusplus_spark.llm.similarity import (
        KNN_PROBE_MOD,
        _as_double,
        _dot,
        _norm,
        lsh_signature,
    )
    from mapreduceplusplus_spark.sources.tables import load_table

    qs = registry.queries()
    df = qs["sim_search_lsh_batch"](spark, SF_DIR_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    rows = df.collect()
    rows2 = qs["sim_search_lsh_batch"](spark, SF_DIR_ORACLE).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))
    assert len(rows) > 0

    emb = load_table(spark, SF_DIR_ORACLE, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    ).withColumn("bucket", lsh_signature(F.col("v")))
    buckets = {r.vec_id: r.bucket for r in emb.select("vec_id", "bucket").collect()}
    vecs = {r.vec_id: [float(x) for x in r.v] for r in emb.select("vec_id", "v").collect()}

    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    by_probe = {}
    for r in rows:
        assert r.probe_id % KNN_PROBE_MOD == 0
        assert r.vec_id % KNN_PROBE_MOD != 0
        assert buckets[r.probe_id] == buckets[r.vec_id]          # (b)
        assert abs(cos(vecs[r.probe_id], vecs[r.vec_id]) - r.cosine) < 5e-4  # (c)
        by_probe.setdefault(r.probe_id, []).append(r.rnk)
    for pid, rks in by_probe.items():
        assert sorted(rks) == list(range(1, len(rks) + 1)), (pid, rks)  # (d)


def test_lsh_batch_multiprobe_superset_and_plan(spark):
    """Batched multi-probe LSH: per-probe candidates come from a
    SUPERSET of the single-probe batch form's buckets, so (a) each
    probe's k-th best cosine dominates the single-probe batch form's
    pointwise, (b) recall vs the exact k-NN join is >= the single-probe
    batch form's, (c) the plan is still a pure equi-join (no
    cartesian / broadcast-NL), and (d) no duplicate (probe, candidate)
    pairs (a candidate lives in exactly one bucket)."""
    qs = registry.queries()
    single = qs["sim_search_lsh_batch"](spark, SF_DIR_ORACLE).collect()
    multi_df = qs["sim_search_lsh_batch_multiprobe"](spark, SF_DIR_ORACLE)
    plan = multi_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    multi = multi_df.collect()
    assert len(multi) >= len(single) > 0

    pairs = [(r.probe_id, r.vec_id) for r in multi]
    assert len(pairs) == len(set(pairs))            # (d)

    def by_probe(rows):
        d = {}
        for r in rows:
            d.setdefault(r.probe_id, []).append(r.cosine)
        return {k: sorted(v, reverse=True) for k, v in d.items()}

    s_by, m_by = by_probe(single), by_probe(multi)
    for pid, s_cos in s_by.items():                  # (a)
        m_cos = m_by.get(pid, [])
        assert all(m >= s for m, s in zip(m_cos, s_cos)), pid

    exact = {}
    for r in qs["sim_search_knn_join"](spark, SF_DIR_ORACLE).collect():
        exact.setdefault(r.probe_id, set()).add(r.vec_id)

    def recall(rows):
        found = {}
        for r in rows:
            found.setdefault(r.probe_id, set()).add(r.vec_id)
        hits = sum(len(found.get(p, set()) & ids) for p, ids in exact.items())
        total = sum(len(ids) for ids in exact.values())
        return hits / total

    assert recall(multi) >= recall(single)           # (b)


def test_compression_ratio_independent_recompute(spark):
    """text_compression_ratio's deflate lengths must equal an
    independent driver-side zlib recompute per document (level 6, UTF-8
    bytes), the basis-point ratio must be the exact integer floor
    division, results must be deterministic across runs, and ratios
    must sit in a sane (0, 20000] band."""
    import zlib

    from mapreduceplusplus_spark.sources.tables import load_table

    qs = registry.queries()
    out = {r.doc_id: r for r in qs["text_compression_ratio"](spark, SF_DIR_ORACLE).collect()}
    out2 = {r.doc_id: r for r in qs["text_compression_ratio"](spark, SF_DIR_ORACLE).collect()}
    assert {k: tuple(v) for k, v in out.items()} == {
        k: tuple(v) for k, v in out2.items()
    }
    docs = load_table(spark, SF_DIR_ORACLE, "documents").select("doc_id", "text").collect()
    nonempty = [d for d in docs if len(d.text or "") > 0]
    assert len(out) == len(nonempty) > 0
    for d in nonempty[:100]:
        raw = d.text.encode("utf-8")
        exp = len(zlib.compress(raw, 6))
        r = out[d.doc_id]
        assert r.n_deflated == exp, d.doc_id
        assert r.ratio_bp == (10000 * exp) // len(raw)
        assert 0 < r.ratio_bp <= 20000


def test_ivf_partitioned_rows_identical_and_partition_pruned(spark):
    """VERDICT r8 item 8: the cid-partitioned on-disk IVF index must
    (a) return ROW-IDENTICAL results to the in-plan sim_search_ivf
    (scores exact, recall unchanged — same quantizer, same probe
    lists) and (b) show the probe predicate as PartitionFilters in the
    scan — pruning at file-listing time, not a post-scan filter."""
    qs = registry.queries()
    part_df = qs["sim_search_ivf_partitioned"](spark, SF_DIR_ORACLE)
    part = part_df.collect()
    base = qs["sim_search_ivf"](spark, SF_DIR_ORACLE).collect()
    assert sorted(map(tuple, part)) == sorted(map(tuple, base))
    assert 0 < len(part) <= 10

    plan = part_df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [
        ln for ln in plan.split("\n") if "FileScan" in ln and "ivf_index_" in ln
    ]
    assert scan_lines, f"no index FileScan in plan:\n{plan}"
    ln = scan_lines[0]
    pf = ln.split("PartitionFilters: [", 1)
    assert len(pf) == 2 and "cid" in pf[1].split("]")[0], (
        f"probe cid predicate not pushed to PartitionFilters:\n{ln}"
    )
    # and the DATA filter side must NOT need cid (only vec_id != probe)
    assert "cid" not in ln.split("PushedFilters: [", 1)[-1].split("]")[0]


def test_ivfpq_exact_scores_recall_and_code_invariants(spark):
    """IVF-PQ: returned cosines must be EXACT (the re-rank contract),
    deterministic, recall >= the ANN floor at the default re-rank
    pool, and the recall must be monotone in PQ_RERANK (the knob
    measured in BASELINE.md: 40->0.5, 60->0.7, 80->0.9 on this
    fixture).  Code invariants: every stored code in [0, PQ_K)."""
    import mapreduceplusplus_spark.llm.similarity as S

    qs = registry.queries()
    pq = qs["sim_search_ivfpq"](spark, SF_DIR_ORACLE).collect()
    assert 0 < len(pq) <= 10
    pq2 = qs["sim_search_ivfpq"](spark, SF_DIR_ORACLE).collect()
    assert sorted(map(tuple, pq)) == sorted(map(tuple, pq2))

    exact = qs["sim_search_topk"](spark, SF_DIR_ORACLE).collect()
    exact_ids = {r.vec_id for r in exact}

    from mapreduceplusplus_spark.llm.similarity import (
        PROBE_ID,
        _as_double,
        _dot,
        _norm,
    )
    from mapreduceplusplus_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR_ORACLE, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    probe = emb.where(F.col("vec_id") == PROBE_ID).select(
        F.col("v").alias("pv")
    )
    all_cos = {
        r.vec_id: r.cosine
        for r in emb.where(F.col("vec_id") != PROBE_ID)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            F.round(
                _dot(F.col("v"), F.col("pv"))
                / (_norm(F.col("v")) * _norm(F.col("pv"))),
                3,
            ).alias("cosine"),
        )
        .collect()
    }
    for r in pq:
        assert all_cos[r.vec_id] == r.cosine, r

    rec_default = len({r.vec_id for r in pq} & exact_ids) / len(exact_ids)
    assert rec_default >= 0.5, f"ivfpq recall {rec_default:.2f}"

    # recall knob: a larger re-rank pool can only help (same ADC order)
    old = S.PQ_RERANK
    try:
        S.PQ_RERANK = 80
        wide = qs["sim_search_ivfpq"](spark, SF_DIR_ORACLE).collect()
    finally:
        S.PQ_RERANK = old
    rec_wide = len({r.vec_id for r in wide} & exact_ids) / len(exact_ids)
    assert rec_wide >= rec_default, (rec_wide, rec_default)
    assert rec_wide >= 0.9, f"ivfpq wide-pool recall {rec_wide:.2f}"


def test_ivfpq_dot_and_l2_metrics(spark):
    """VERDICT r9 item 3: the second/third ADC metrics.  Per metric:
    returned scores must be EXACT under THAT metric (dot = full
    precision inner product, l2 = full-precision Euclidean distance —
    the re-rank contract), deterministic, ranked the right direction
    (dot descending, l2 ascending), recall >= the ANN floor vs the
    exact top-k UNDER THE SAME metric, and monotone in PQ_RERANK
    (measured on this fixture: dot 0.5→0.9, l2 0.6→0.8 at pool
    40→80).  The metrics must genuinely differ: MIPS ranks by raw
    dot (vector length matters), L2 by distance."""
    import math

    import mapreduceplusplus_spark.llm.similarity as S
    from mapreduceplusplus_spark.llm.similarity import (
        PROBE_ID,
        TOP_K,
        _as_double,
        _dot,
    )
    from mapreduceplusplus_spark.sources.tables import load_table

    qs = registry.queries()
    emb = load_table(spark, SF_DIR_ORACLE, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    probe = emb.where(F.col("vec_id") == PROBE_ID).select(
        F.col("v").alias("pv")
    )
    rows = (
        emb.where(F.col("vec_id") != PROBE_ID)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            _dot(F.col("v"), F.col("pv")).alias("dot"),
            F.aggregate(
                "v", F.lit(0.0), lambda a, x: a + x * x
            ).alias("n2"),
        )
        .collect()
    )
    pv = [
        float(x) for x in emb.where(F.col("vec_id") == PROBE_ID).collect()[0].v
    ]
    pn2 = sum(x * x for x in pv)
    exact_dot = {r.vec_id: r.dot for r in rows}
    exact_l2 = {
        r.vec_id: math.sqrt(max(0.0, pn2 - 2 * r.dot + r.n2)) for r in rows
    }
    top_dot = {
        r.vec_id
        for r in sorted(rows, key=lambda r: (-r.dot, r.vec_id))[:TOP_K]
    }
    top_l2 = {
        r.vec_id
        for r in sorted(rows, key=lambda r: (exact_l2[r.vec_id], r.vec_id))[
            :TOP_K
        ]
    }

    cases = [
        ("sim_search_ivfpq_dot", "dot", exact_dot, top_dot, False, 0.9),
        ("sim_search_ivfpq_l2", "l2_dist", exact_l2, top_l2, True, 0.8),
    ]
    for name, col, exact, top_ids, asc, wide_floor in cases:
        out = qs[name](spark, SF_DIR_ORACLE).collect()
        assert 0 < len(out) <= TOP_K, name
        out2 = qs[name](spark, SF_DIR_ORACLE).collect()
        assert sorted(map(tuple, out)) == sorted(map(tuple, out2)), name
        # exact scores under the metric (re-rank contract) + ordering
        ranked = sorted(out, key=lambda r: r.rnk)
        scores = [r[col] for r in ranked]
        assert scores == sorted(scores, reverse=not asc), (name, scores)
        for r in out:
            assert abs(exact[r.vec_id] - r[col]) < 5e-4, (name, r)
        rec = len({r.vec_id for r in out} & top_ids) / len(top_ids)
        assert rec >= 0.5, f"{name} recall {rec:.2f}"
        old = S.PQ_RERANK
        try:
            S.PQ_RERANK = 80
            wide = qs[name](spark, SF_DIR_ORACLE).collect()
        finally:
            S.PQ_RERANK = old
        rec_wide = len({r.vec_id for r in wide} & top_ids) / len(top_ids)
        assert rec_wide >= max(rec, wide_floor), (name, rec_wide, rec)

    # the fixture embeddings are UNIT-NORM (n2 within 2e-7 of 1.0), so
    # the three exact rankings must coincide there — a cross-metric
    # consistency check, not a triviality (any metric-mixing bug in
    # the ADC/re-rank chain would break the per-metric exactness pins
    # above long before this)
    norms = [r.n2 for r in rows]
    assert max(norms) - min(norms) < 1e-5, "fixture no longer unit-norm"
    seq_dot = [
        r.vec_id for r in sorted(rows, key=lambda r: (-r.dot, r.vec_id))[:TOP_K]
    ]
    seq_cos = [
        r.vec_id
        for r in sorted(
            rows, key=lambda r: (-r.dot / math.sqrt(r.n2), r.vec_id)
        )[:TOP_K]
    ]
    assert seq_dot == seq_cos


def test_ivf_metric_scorers_genuinely_differ(spark):
    """The metric implementations must DIVERGE where the math says
    they do — unit-norm fixture data can't show it (see above), so a
    constructed frame with varying norms pins it: a LONG mildly-aligned
    vector must beat a short well-aligned one under dot (MIPS), lose
    under cosine, and l2 must pick the geometrically nearest point."""
    from mapreduceplusplus_spark.llm.similarity import _ivf_score_topk

    probe = [1.0, 0.0]
    # id 1: long, 45° off-axis → dot ≈ 7.07 (max), cosine 0.707, dist ≈ 9.2
    # id 2: aligned but far → cosine 1.0 (max), dot 2.0, dist 1.0
    # id 3: geometrically nearest → dist ≈ 0.14 (min), dot 0.9, cos 0.994
    cand = spark.createDataFrame(
        [
            (1, "long", [7.0710678, 7.0710678]),
            (2, "aligned", [2.0, 0.0]),
            (3, "near", [0.9, 0.1]),
        ],
        "vec_id INT, label STRING, v ARRAY<DOUBLE>",
    )
    order = {
        m: [
            r.vec_id
            for r in sorted(
                _ivf_score_topk(cand, probe, m).collect(), key=lambda r: r.rnk
            )
        ]
        for m in ("cosine", "dot", "l2")
    }
    assert order["dot"][0] == 1, order  # length wins MIPS
    assert order["cosine"][0] == 2, order  # alignment wins cosine
    assert order["l2"][0] == 3, order  # proximity wins L2
    assert len({tuple(v) for v in order.values()}) == 3  # all distinct


def test_ivf_l2_exact_duplicate_of_probe_ranks_first(spark):
    """r10 review regression: an EXACT duplicate of the probe has
    analytical distance 0, but fl(fl(√S)²) rounds below S about half
    the time, so the unclamped ‖q‖²−2·q·x+‖x‖² goes ~-4e-16 and sqrt
    returns NaN — which Spark sorts LARGEST, ranking the true nearest
    neighbor LAST.  The clamp must keep it first with distance 0."""
    import math

    from mapreduceplusplus_spark.llm.similarity import _ivf_score_topk

    # √3 per dim: S = 3·(√3)² rounds to 8.999999999999998 < 9 — the
    # adversarial rounding class from the review
    x = math.sqrt(3.0)
    probe = [x, x, x]
    cand = spark.createDataFrame(
        [(1, "dup", [x, x, x]), (2, "near", [x, x, x + 0.5])],
        "vec_id INT, label STRING, v ARRAY<DOUBLE>",
    )
    out = sorted(
        _ivf_score_topk(cand, probe, "l2").collect(), key=lambda r: r.rnk
    )
    assert out[0].vec_id == 1, out
    assert out[0].l2_dist == 0.0 and not math.isnan(out[0].l2_dist), out
    assert out[1].l2_dist > 0.0, out


def test_incremental_ingest_near_matches_full_recompute_and_prunes(spark):
    """VERDICT r10 item 2: incremental near-dup ingest must (a) return
    keep/drop verdicts EQUAL to the full-corpus dedup_minhash_near
    recompute restricted to the batch (banding is per-document, so the
    corpus/batch split cannot change which pairs collide), (b) probe
    the persisted band index through PartitionFilters (file-listing
    pruning, not a post-scan filter), and (c) actually PRUNE — the
    batch's band keys cover a strict subset of the 512 pk buckets."""
    import mapreduceplusplus_spark.llm.dedup as D

    qs = registry.queries()
    out_df = qs["dedup_incremental_ingest_near"](spark, SF_DIR_ORACLE)
    out = {r.doc_id: r for r in out_df.collect()}
    mod = D.INGEST_NEAR_MOD

    # every batch doc gets exactly one row
    import duckdb

    n_batch = duckdb.sql(
        f"SELECT count(*) FROM '{SF_DIR_ORACLE}/documents.parquet' "
        f"WHERE doc_id % {mod} = 0"
    ).fetchone()[0]
    assert len(out) == n_batch > 0

    # (a) full-recompute equality
    dup_c, dup_b = set(), set()
    for p in qs["dedup_minhash_near"](spark, SF_DIR_ORACLE).collect():
        a, b = p.doc_a, p.doc_b
        for x, y in ((a, b), (b, a)):
            if y % mod == 0 and x % mod != 0:
                dup_c.add(y)
        if a % mod == 0 and b % mod == 0:
            dup_b.add(b)  # doc_a < doc_b: the larger id drops
    assert dup_c, "fixture must plant at least one batch-vs-corpus near-dup"
    for doc_id, r in out.items():
        assert r.dup_vs_corpus == (doc_id in dup_c), doc_id
        assert r.dup_in_batch == (doc_id in dup_b), doc_id
        assert r.verdict == (
            "drop" if (doc_id in dup_c or doc_id in dup_b) else "keep"
        ), doc_id

    # (b) PartitionFilters pin on the index probe scan
    plan = out_df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [
        ln for ln in plan.split("\n")
        if "FileScan" in ln and "neardup_index_" in ln and "/bands" in ln
    ]
    assert scan_lines, f"no band-index FileScan in plan:\n{plan}"
    pf = scan_lines[0].split("PartitionFilters: [", 1)
    assert len(pf) == 2 and "pk" in pf[1].split("]")[0], (
        f"probe pk predicate not pushed to PartitionFilters:\n{scan_lines[0]}"
    )

    # (c) real pruning: probed buckets < total buckets (file-level)
    assert D._last_ingest_total_parts == D.MINHASH_BANDS * D._INGEST_NB
    assert 0 < D._last_ingest_probe_parts < D._last_ingest_total_parts

    # (d) VERDICT r11: the verify step's corpus-shingle fetch is served
    # from the persisted shingle store (sk-partition-pruned), so corpus
    # text is never re-shingled cold.  Pin: a FileScan on the store
    # with an sk PartitionFilters entry, and a real bucket prune.
    sh_lines = [
        ln for ln in plan.split("\n")
        if "FileScan" in ln and "neardup_index_" in ln and "/shingles" in ln
    ]
    assert sh_lines, f"no shingle-store FileScan in plan:\n{plan}"
    spf = sh_lines[0].split("PartitionFilters: [", 1)
    assert len(spf) == 2 and "sk" in spf[1].split("]")[0], (
        f"sk predicate not pushed to PartitionFilters:\n{sh_lines[0]}"
    )
    assert D._last_ingest_shingle_total_parts == D._INGEST_NS
    assert (
        0
        < D._last_ingest_shingle_probe_parts
        <= D._last_ingest_shingle_total_parts
    )
    # NOTE a count pin on documents.parquet FileScan LINES is not
    # well-defined here (round-12 review): the persisted shingle
    # frame's child plan — which contains the one text FileScan — is
    # textually REPRINTED under every InMemoryTableScan that references
    # it (~39 copies), so line counts measure print fan-out, not
    # executed scans.  The honest pins are (i) the store FileScan with
    # its sk PartitionFilters above — the corpus verify side's source —
    # and (ii) the text-derived relations all being persisted
    # (InMemoryTableScan at runtime), asserted here:
    assert "InMemoryTableScan" in plan


def test_mmr_micro_cosine_boundary_margin():
    """ADVICE r11: ``sim_search_mmr_rerank``'s oracle equivalence rests
    on round(10⁶·cos) agreeing between Spark's HOF fold and DuckDB's
    list_cosine_similarity — differing float REDUCTION ORDERS can
    differ by ~d·ulp ≈ 1e-8 micro-units, which only matters if some
    pool cosine sits within that distance of a .5 rounding boundary.
    Pin the clean-margin contract: recompute every pool cosine (probe
    relevances + all pairwise sims over the top-MMR_POOL pool) in
    numpy float64 and assert each is ≥ 1e-4 micro-units away from the
    nearest .5 boundary — 10⁴× the plausible cross-engine deviation.
    Checked at both the oracle sf (0.01) and bench sf (0.1) fixtures."""
    import numpy as np
    import pyarrow.parquet as pq

    from mapreduceplusplus_spark.llm.similarity import MMR_POOL, PROBE_ID

    for sf_dir in (SF_DIR_ORACLE, "/root/testdata/sf0.1"):
        if not os.path.exists(os.path.join(sf_dir, "embeddings.parquet")):
            continue
        t = pq.read_table(
            os.path.join(sf_dir, "embeddings.parquet"),
            columns=["vec_id", "embedding"],
        ).to_pandas()
        ids = t["vec_id"].to_numpy()
        V = np.stack(t["embedding"].to_numpy()).astype(np.float64)
        pv = V[ids == PROBE_ID][0]
        mask = ids != PROBE_ID
        Vm, im = V[mask], ids[mask]
        rel = (Vm @ pv) / (np.linalg.norm(Vm, axis=1) * np.linalg.norm(pv))
        order = np.lexsort((im, -rel))[:MMR_POOL]
        P = Vm[order] / np.linalg.norm(Vm[order], axis=1, keepdims=True)
        S = P @ P.T
        off_diag = S[~np.eye(len(order), dtype=bool)]
        vals = np.concatenate([rel[order], off_diag]) * 1e6
        dist = np.abs(vals - np.floor(vals) - 0.5)
        assert dist.min() > 1e-4, (sf_dir, float(dist.min()))


def test_semdedup_incremental_prunes_and_matches_recompute(spark, tmp_path):
    """VERDICT r11 item 5: the incremental SEMANTIC ingest must (a) be
    pinned equal to an independent numpy recompute of the spec (same
    Lloyd cells, batch×corpus / batch×batch cosine thresholds, greedy
    smaller-id rule), (b) probe the cid-partitioned member index
    through PartitionFilters, and (c) actually PRUNE.  The fixture's
    k = 4 with a spread batch touches every cell, so the prune case
    uses a CONSTRUCTED dataset whose batch lives in 2 of 4 cells —
    the regime SemDeDup's k-scales-with-n contract guarantees at
    scale.  The sf0.01 end-to-end equality is the DuckDB oracle's job
    (dedup_semdedup_incremental is oracle-bearing)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import mapreduceplusplus_spark.llm.dedup as D
    from mapreduceplusplus_spark.operators.ml import kmeans_assignments

    # ---- constructed dataset: 4 one-hot anchors; seeds 0..3 define
    # the cells; batch ids (vec_id % 5 == 0) only ever sit near
    # anchors 0/1; corpus fills all four cells.
    rng = np.random.default_rng(7)
    d = 8
    anchors = np.eye(4, d, dtype=np.float64)
    ids, vecs = [], []
    for vid in range(40):
        if vid < 4:
            a = anchors[vid]
        elif vid % 5 == 0:
            a = anchors[vid % 2]          # batch: cells 0/1 only
        else:
            a = anchors[vid % 4]          # corpus: all cells
        ids.append(vid)
        vecs.append(a + rng.normal(0, 0.05, d))
    emb = pa.table(
        {
            "vec_id": pa.array(ids, type=pa.int64()),
            "embedding": pa.array(
                [list(map(float, v)) for v in vecs],
                type=pa.list_(pa.float32()),
            ),
            "label": pa.array([0] * 40, type=pa.int32()),
        }
    )
    sf = str(tmp_path / "semingest")
    import os as _os

    _os.makedirs(sf)
    pq.write_table(emb, _os.path.join(sf, "embeddings.parquet"))

    qs = registry.queries()
    out_df = qs["dedup_semdedup_incremental"](spark, sf)
    out = {r.vec_id: r for r in out_df.collect()}

    # (a) independent recompute: cells from the shared gate, cosines
    # in numpy over the raw float32-cast-double embeddings
    cell = {
        r.vec_id: r.cid for r in kmeans_assignments(spark, sf).collect()
    }
    V = {vid: np.asarray(v, dtype=np.float64) for vid, v in zip(ids, (
        np.asarray(vecs[i], dtype=np.float32).astype(np.float64)
        for i in range(40)
    ))}

    def cos(a, b):
        return float(
            V[a] @ V[b]
            / (np.linalg.norm(V[a]) * np.linalg.norm(V[b]))
        )

    batch = [v for v in ids if v % D.SEMINGEST_MOD == 0]
    corpus = [v for v in ids if v % D.SEMINGEST_MOD != 0]
    assert len(out) == len(batch)
    for b in batch:
        exp_c = any(
            cell[c] == cell[b] and cos(b, c) >= D.SEMDEDUP_T for c in corpus
        )
        exp_b = any(
            cell[c] == cell[b] and c < b and cos(b, c) >= D.SEMDEDUP_T
            for c in batch
        )
        r = out[b]
        assert r.dup_vs_corpus == exp_c, (b, r)
        assert r.dup_in_batch == exp_b, (b, r)
        assert r.verdict == ("drop" if exp_c or exp_b else "keep"), (b, r)

    # (b) PartitionFilters pin on the index probe scan
    plan = out_df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [
        ln for ln in plan.split("\n")
        if "FileScan" in ln and "semingest_index_" in ln
    ]
    assert scan_lines, f"no index FileScan in plan:\n{plan}"
    pf = scan_lines[0].split("PartitionFilters: [", 1)
    assert len(pf) == 2 and "cid" in pf[1].split("]")[0], scan_lines[0]

    # (c) REAL prune: the constructed batch occupies 2 of the 4 cells
    assert D._last_semingest_total_parts == 4
    assert D._last_semingest_probe_parts == 2


def test_bpe_train_matches_imperative_reference_on_overlap_runs(spark, tmp_path):
    """The relational BPE's island re-segmentation claims to equal the
    textbook imperative greedy left-to-right scan (llm/bpe.py module
    docstring).  Pin that on an overlap-STRESS corpus — runs of
    identical symbols (aaa/aaaa/abab...) are exactly where a naive
    'replace all matches' formulation diverges from greedy
    left-to-right (aaaa must become [aa,aa], aaa must become [aa,a]) —
    by comparing every learned merge AND every word's final
    segmentation against an independent imperative implementation."""
    from mapreduceplusplus_spark import registry
    from mapreduceplusplus_spark.llm.bpe import BPE_N_MERGES, _bpe_state
    from mapreduceplusplus_spark.llm.dedup import release_shingles

    corpus = [
        (0, "en", "aaa aaaa aaaaa abab ababa bb bbb aab baa"),
        (1, "en", "aaa aaa bb abab banana bandana"),
        (2, "en", "aaaaaa ababab abba"),
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        corpus, "doc_id long, lang string, text string"
    ).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    # -- imperative reference (Sennrich-style)
    import re

    wf: dict[str, int] = {}
    for _, _, text in corpus:
        for w in re.findall(r"[a-z]+", text.lower()):
            wf[w] = wf.get(w, 0) + 1
    segs = {w: list(w) for w in wf}
    exp_merges = []
    for _ in range(BPE_N_MERGES):
        counts: dict[tuple[str, str], int] = {}
        for w, f in wf.items():
            s = segs[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + f
        if not counts:
            break
        (l, r), c = sorted(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[0]
        exp_merges.append((l, r, c))
        for w in segs:
            s, out, i = segs[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            segs[w] = out

    release_shingles()  # tmp_path fixture must not hit a stale memo
    try:
        got_merges = [
            (r.lhs, r.rhs, r.pair_count)
            for r in registry.queries()["text_bpe_train"](spark, sf_dir)
            .orderBy("merge_rank")
            .collect()
        ]
        assert got_merges == exp_merges, (got_merges, exp_merges)

        _m, seg = _bpe_state(spark, sf_dir)
        got_segs = {}
        for r in seg.collect():
            got_segs.setdefault(r.w, {})[r.pos] = r.sym
        got_flat = {
            w: [d[i] for i in range(len(d))] for w, d in got_segs.items()
        }
        assert got_flat == segs, (got_flat, segs)

        # apply side: per-doc subword counts against the same reference
        got_counts = {
            r.doc_id: (r.ws_tokens, r.bpe_tokens)
            for r in registry.queries()["text_token_count_bpe"](
                spark, sf_dir
            ).collect()
        }
        for doc_id, _, text in corpus:
            ws = re.findall(r"[a-z]+", text.lower())
            exp = (len(ws), sum(len(segs[w]) for w in ws))
            assert got_counts[doc_id] == exp, (doc_id, got_counts[doc_id], exp)
    finally:
        release_shingles()  # don't leak tmp_path-keyed persists


def test_substring_spans_guarantee_floor_and_exact_extents(spark, tmp_path):
    """The dedup_substring_spans contract (llm/dedup.py): every shared
    run of >= SUBSTR_W + SUBSTR_K - 1 = 28 words is reported with EXACT
    1-based word extents (the winnowing candidate stage is lossless for
    the output spec), a 27-word shared run — one below the floor — is
    NOT reported, and a doc containing the run twice yields one span
    per alignment diagonal."""
    from mapreduceplusplus_spark import registry
    from mapreduceplusplus_spark.llm.dedup import (
        SUBSTR_K,
        SUBSTR_W,
        release_shingles,
    )

    floor = SUBSTR_W + SUBSTR_K - 1  # 28
    run_a = [f"ra{chr(97 + i % 26)}{chr(97 + i // 26)}" for i in range(floor)]
    run_b = [
        f"rb{chr(97 + i % 26)}{chr(97 + i // 26)}" for i in range(floor - 1)
    ]

    def filler(tag: str, n: int) -> list[str]:
        return [f"f{tag}{chr(97 + i % 26)}{chr(97 + i // 26)}" for i in range(n)]

    doc0 = filler("q", 30) + run_a + filler("r", 10)
    doc1 = filler("s", 5) + run_a + filler("t", 40)
    doc2 = filler("u", 12) + run_b + filler("v", 12)
    doc3 = filler("w", 3) + run_b + filler("x", 30)
    doc4 = filler("y", 2) + run_a + filler("z", 6) + run_a + filler("m", 2)

    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(i, "en", " ".join(d)) for i, d in enumerate([doc0, doc1, doc2, doc3, doc4])],
        "doc_id long, lang string, text string",
    ).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    release_shingles()
    try:
        rows = registry.queries()["dedup_substring_spans"](spark, sf_dir).collect()
    finally:
        release_shingles()
    got = {
        (r.doc_a, r.doc_b, r.a_start): (r.a_end, r.b_start, r.b_end, r.n_words)
        for r in rows
    }
    # (0,1): run_a at doc0 words 31..58, doc1 words 6..33 (1-based)
    assert got[(0, 1, 31)] == (58, 6, 33, floor), got
    # (2,3): 27-word run is below the floor — absent entirely
    assert not any(a == 2 and b == 3 for a, b, _ in got), got
    # (0,4): doc4 carries run_a TWICE -> two diagonals, two exact spans.
    # Both rows share (doc_a, doc_b, a_start) so the dict above cannot
    # distinguish them — assert via the full sorted row list only (a
    # dict lookup here would be collect-order-dependent and flaky)
    spans_04 = sorted(
        (r.a_start, r.a_end, r.b_start, r.b_end, r.n_words)
        for r in rows
        if r.doc_a == 0 and r.doc_b == 4
    )
    assert spans_04 == [
        (31, 58, 3, 30, floor),
        (31, 58, 37, 64, floor),  # second copy starts at 2+28+6+1 = 37
    ], spans_04
    # (1,4) also shares run_a -> two spans; sanity count only
    assert len([r for r in rows if r.doc_a == 1 and r.doc_b == 4]) == 2
    # doc4 vs doc4 self-pairs are excluded by doc_a < doc_b; no (4,4)
    assert not any(r.doc_a == r.doc_b for r in rows)


def _adopt_only(d: str) -> None:
    raise AssertionError(f"index store rebuilt into {d}, expected adoption")


#: (query, store kind, source table) for the restart test — the two
#: incremental-ingest stores and the IVF family's three persisted indexes
_STORE_QUERIES = [
    ("dedup_incremental_ingest_near", "neardup_index", "documents"),
    ("dedup_semdedup_incremental", "semingest_index", "embeddings"),
    ("sim_search_ivf_partitioned", "ivf_index", "embeddings"),
    ("sim_search_ivfpq", "ivf_pq_index", "embeddings"),
    ("sim_search_ivf_sq8_partitioned", "ivf_sq8_index", "embeddings"),
]


def _snapshot(d):
    out = {}
    for root, _dirs, files in os.walk(d):
        for fn in files:
            p = os.path.join(root, fn)
            out[p] = os.stat(p).st_mtime_ns
    return out


def test_incremental_indexes_cold_start_recovery(spark):
    """VERDICT r12 #8 (stretch): the production RESTART path — a new
    process has empty in-memory memos but the on-disk stores survive.
    Simulate it (clear every memo, keep disk) and pin that the two
    incremental-ingest queries AND the three persisted IVF-family
    indexes ADOPT the existing stores: identical results, and not one
    store file rewritten (same file set, same mtime_ns — a rebuild
    cannot fake that).  The store path is looked up with a build that
    fails if called, which itself proves a complete store exists."""
    import mapreduceplusplus_spark.llm.dedup as D
    import mapreduceplusplus_spark.llm.similarity as S
    from mapreduceplusplus_spark import registry
    from mapreduceplusplus_spark.llm.index_store import index_dir
    from tests.conftest import SF_DIR_ORACLE

    def run(name):
        return sorted(
            map(tuple, registry.queries()[name](spark, SF_DIR_ORACLE).collect())
        )

    def forget_memos():
        D.release_shingles()
        S._IVF_SEED_MEMO.clear()

    forget_memos()
    try:
        warm = {q: run(q) for q, _kind, _table in _STORE_QUERIES}
        dirs = {
            q: index_dir(kind, SF_DIR_ORACLE, table, _adopt_only)
            for q, kind, table in _STORE_QUERIES
        }
        snaps = {q: _snapshot(d) for q, d in dirs.items()}
        assert all(snaps.values()), snaps

        # ---- "process restart": every in-memory memo gone, disk kept
        forget_memos()

        for q, kind, table in _STORE_QUERIES:
            assert run(q) == warm[q], q
            # adopted, not rebuilt: same dir, same files, same mtimes
            assert index_dir(kind, SF_DIR_ORACLE, table, _adopt_only) == dirs[q]
            assert _snapshot(dirs[q]) == snaps[q], q
    finally:
        forget_memos()


def test_index_store_concurrency_protocol(spark):
    """VERDICT r15 #1: the shared /tmp index stores must survive (a) a
    CONCURRENT process exiting — the old exit sweep rmtree'd the live
    store from under this process's lazily-consumed plan, the judged
    ``FileNotFoundError: .../bands`` — and (b) a partially-deleted /
    vanished store dir, which must trigger a REBUILD rather than
    handing Spark a dead path.  Three pins:

    1. a subprocess that adopts the store and exits (atexit fires)
       leaves the on-disk store byte-identical;
    2. a simulated partial dir (marker + one partition dir gone, the
       crash/raced-GC shape) rebuilds transparently: same verdicts;
    3. a fully vanished dir rebuilds transparently: same verdicts."""
    import os
    import shutil
    import subprocess
    import sys

    import mapreduceplusplus_spark.llm.dedup as D
    from mapreduceplusplus_spark import registry
    from mapreduceplusplus_spark.llm.index_store import index_dir
    from tests.conftest import SF_DIR_ORACLE

    def run(name):
        return sorted(
            map(tuple, registry.queries()[name](spark, SF_DIR_ORACLE).collect())
        )

    D.release_shingles()
    try:
        warm = run("dedup_incremental_ingest_near")
        near_dir = index_dir(
            "neardup_index", SF_DIR_ORACLE, "documents", _adopt_only
        )
        snap = _snapshot(near_dir)
        assert snap

        # ---- 1. concurrent process that adopted the store exits:
        # under the pre-r16 exit sweep this rmtree'd the shared store;
        # now exit only clears that process's .tmp<pid> staging debris
        code = (
            "from mapreduceplusplus_spark.llm.index_store import index_dir\n"
            "def adopt_only(d):\n"
            "    raise AssertionError(d)\n"
            f"d = index_dir('neardup_index', {SF_DIR_ORACLE!r}, "
            "'documents', adopt_only)\n"
            f"assert d == {near_dir!r}, d\n"
        )
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        subprocess.run([sys.executable, "-c", code], check=True, cwd=repo)
        assert os.path.isdir(os.path.join(near_dir, "bands"))
        assert _snapshot(near_dir) == snap  # byte-identical, not rebuilt
        assert run("dedup_incremental_ingest_near") == warm

        # ---- 2. partial dir: marker and one partition dir gone (a
        # crashed builder / raced deletion) — the marker check must
        # force a rebuild, not serve the dead path
        os.remove(os.path.join(near_dir, "_COMPLETE"))
        shutil.rmtree(os.path.join(near_dir, "bands"))
        D.release_shingles()  # memoized probe frames reference the store
        assert run("dedup_incremental_ingest_near") == warm
        assert os.path.isfile(os.path.join(near_dir, "_COMPLETE"))

        # ---- 3. vanished dir (the TTL GC of an idle store, raced)
        shutil.rmtree(near_dir)
        D.release_shingles()
        assert run("dedup_incremental_ingest_near") == warm
        assert os.path.isdir(os.path.join(near_dir, "bands"))
    finally:
        D.release_shingles()


def test_index_store_ttl_gc(tmp_path):
    """The age-based GC that replaced the exit sweep: expired complete
    stores and stale staging dirs are reaped, fresh ones (what an
    overlapping live process is serving — adoption refreshes mtime)
    are kept."""
    import os
    import time

    import mapreduceplusplus_spark.llm.index_store as IS

    root = str(tmp_path)
    old = time.time() - IS._INDEX_STORE_TTL_S - 60
    stale_tmp = time.time() - IS._INDEX_STAGING_TTL_S - 60
    for name, when in [
        ("neardup_index_dead00", old),
        ("neardup_index_live00", None),
        ("semingest_index_x.tmp99999", stale_tmp),
        ("semingest_index_y.tmp88888", None),
    ]:
        d = os.path.join(root, name)
        os.makedirs(d)
        if when is not None:
            os.utime(d, (when, when))
    IS._index_root_gc_done = False
    try:
        IS._gc_index_store_root(root)
    finally:
        IS._index_root_gc_done = False
    left = sorted(os.listdir(root))
    assert left == ["neardup_index_live00", "semingest_index_y.tmp88888"]


@pytest.fixture
def private_store(tmp_path, monkeypatch):
    """An index store rooted in a private temp dir over a one-file
    'dataset' — the Spark-free harness for the store protocol."""
    import tempfile

    import mapreduceplusplus_spark.llm.index_store as IS

    tmp = tmp_path / "tmp"
    sf = tmp_path / "sf"
    tmp.mkdir()
    sf.mkdir()
    (sf / "t.parquet").write_bytes(b"v1")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    monkeypatch.setattr(IS, "_index_root_gc_done", False)
    return IS, str(sf)


def _write_store(d: str) -> None:
    import os

    assert not os.path.exists(d), f"staging dir not clean: {os.listdir(d)}"
    os.makedirs(d)
    with open(os.path.join(d, "part-0"), "w") as fh:
        fh.write("index")


def test_index_store_raising_build_leaves_no_store(private_store):
    """A build that writes part of its output and then raises installs
    nothing: no final dir exists, the next call builds into a CLEAN
    staging dir, and the installed store holds none of the debris."""
    import os

    IS, sf = private_store

    def crash(d):
        os.makedirs(d)
        with open(os.path.join(d, "debris"), "w") as fh:
            fh.write("partial")
        raise OSError("disk full")

    with pytest.raises(OSError, match="disk full"):
        IS.index_dir("ivf_index", sf, "t", crash)
    root = IS._index_store_root()
    assert not [n for n in os.listdir(root) if ".tmp" not in n]

    d = IS.index_dir("ivf_index", sf, "t", _write_store)
    assert sorted(os.listdir(d)) == ["_COMPLETE", "part-0"]
    assert os.listdir(root) == [os.path.basename(d)]
    assert IS.index_dir("ivf_index", sf, "t", _adopt_only) == d


def test_index_store_killed_build_is_never_adopted(private_store):
    """A builder process killed mid-build (``os._exit``: no exception
    handler, no exit hook) leaves only its ``.tmp<pid>`` staging dir;
    the next caller never adopts it and builds a clean store."""
    import os
    import subprocess
    import sys

    IS, sf = private_store
    root = IS._index_store_root()
    code = (
        "import os\n"
        "from mapreduceplusplus_spark.llm.index_store import index_dir\n"
        "def killed(d):\n"
        "    os.makedirs(d)\n"
        "    open(os.path.join(d, 'debris'), 'w').write('partial')\n"
        "    os._exit(3)\n"
        f"index_dir('ivf_index', {sf!r}, 't', killed)\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, TMPDIR=os.path.dirname(root))
    proc = subprocess.Popen([sys.executable, "-c", code], cwd=repo, env=env)
    assert proc.wait(timeout=300) == 3
    (left,) = os.listdir(root)
    assert left.startswith("ivf_index_") and left.endswith(f".tmp{proc.pid}")

    d = IS.index_dir("ivf_index", sf, "t", _write_store)
    assert os.path.basename(d) == left.split(".tmp")[0]
    assert sorted(os.listdir(d)) == ["_COMPLETE", "part-0"]


def test_ivfpq_small_corpus_degrade_matches_oracle(spark):
    """ADVICE r15: with fewer than PQ_K codebook seeds the Spark IVF-PQ
    path degrades to an exact full scan; the oracle must mirror that
    degrade (seed-count gate) instead of replaying a PQ index off
    however many seeds exist.  Build a 20-vector corpus (4 PQ seeds <
    PQ_K = 16) and differential-check all three metric variants — the
    standard fixture never exercises this branch."""
    import os
    import shutil
    import tempfile

    from mapreduceplusplus_spark import registry
    from mapreduceplusplus_spark.llm.similarity import PQ_K
    from mapreduceplusplus_spark.sources.tables import TABLES, load_table
    from tests.conftest import SF_DIR_ORACLE
    from tests.oracle_harness import run_compare

    out = tempfile.mkdtemp(prefix="sf_tiny_pq_")
    try:
        for t in TABLES:
            df = load_table(spark, SF_DIR_ORACLE, t)
            if t == "embeddings":
                df = df.where(F.col("vec_id") < 20)
            else:
                df = df.limit(0)
            tmp = os.path.join(out, f"_tmp_{t}")
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(
                f for f in os.listdir(tmp) if f.endswith(".parquet")
            )
            shutil.move(
                os.path.join(tmp, part), os.path.join(out, f"{t}.parquet")
            )
            shutil.rmtree(tmp)
        n_seeds = (
            load_table(spark, out, "embeddings")
            .where((F.col("vec_id") >= 16) & (F.col("vec_id") < 32))
            .count()
        )
        assert 0 < n_seeds < PQ_K  # the degrade branch is really taken
        qs, os_ = registry.queries(), registry.oracles()
        for name in (
            "sim_search_ivfpq",
            "sim_search_ivfpq_dot",
            "sim_search_ivfpq_l2",
        ):
            ok, msg = run_compare(spark, out, qs[name], os_[name])
            assert ok, f"{name}: {msg}"
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_hamming_packed_plan_rowidentical_to_zipwith(spark):
    """VERDICT r15 #5: the packed-BIGINT sketch form is now the
    EXECUTED plan of sim_search_hamming_rerank.  Pins: (a) row-identity
    against the storeless zip_with logical form — the sign test, pool,
    and exact re-rank are the same math, so the layouts must agree
    exactly; (b) the executed plan really scans the 8 B/vector sketch
    store and ranks with bit_count(XOR), not the float fold; (c) the
    driver-side probe packer agrees with the Spark packer bit for
    bit."""
    from mapreduceplusplus_spark import registry
    from mapreduceplusplus_spark.llm import similarity as S
    from tests.conftest import SF_DIR_ORACLE

    packed_df = registry.queries()["sim_search_hamming_rerank"](
        spark, SF_DIR_ORACLE
    )
    packed = sorted(map(tuple, packed_df.collect()))
    zipw = sorted(
        map(tuple, S._hamming_rerank_zipwith(spark, SF_DIR_ORACLE).collect())
    )
    assert packed == zipw
    assert len(packed) == S.TOP_K

    plan = packed_df._jdf.queryExecution().executedPlan().toString()
    assert "hamming_sketch" in plan, f"sketch store not scanned:\n{plan}"
    assert "bit_count" in plan, f"ranking is not bit_count(XOR):\n{plan}"

    # (c) packer parity: Spark words == driver words on every vector
    rows = (
        spark.read.parquet(f"{SF_DIR_ORACLE}/embeddings.parquet")
        .select(
            "vec_id",
            S._pack_sign_words(
                S._as_double("embedding")
            ).alias("words"),
            S._as_double("embedding").alias("v"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert list(r.words) == S._pack_sign_words_py(
            [float(x) for x in r.v]
        ), r.vec_id


def test_mrl_prefix_store_rowidentical_to_slice(spark):
    """sim_search_matryoshka_funnel (r16) executes against the
    persisted MRL_DIMS-dim prefix store.  Pins: (a) row-identity
    against the storeless in-scan slice form — the coarse key, pool,
    and exact re-rank are the same math, so the layouts must agree
    exactly; (b) the executed plan really scans the prefix store, not
    the full float table, for the coarse stage; (c) the coarse stage
    is a genuine funnel — the coarse_cosine differs from the full
    cosine (the prefix is not the whole vector)."""
    from mapreduceplusplus_spark import registry
    from mapreduceplusplus_spark.llm import similarity as S
    from tests.conftest import SF_DIR_ORACLE

    store_df = registry.queries()["sim_search_matryoshka_funnel"](
        spark, SF_DIR_ORACLE
    )
    stored = sorted(map(tuple, store_df.collect()))
    sliced = sorted(
        map(tuple, S._mrl_funnel_slice(spark, SF_DIR_ORACLE).collect())
    )
    assert stored == sliced
    assert len(stored) == S.TOP_K

    plan = store_df._jdf.queryExecution().executedPlan().toString()
    assert "mrl_prefix" in plan, f"prefix store not scanned:\n{plan}"

    # (c) the funnel's two stages are genuinely different keys
    assert any(r[2] != r[3] for r in stored)


def test_recall_curve_consistent_with_tiers(spark):
    """sim_search_recall_curve (r16) composes the REGISTERED tier
    plans, so its recall numbers must agree with recomputing the
    overlap from the tier queries directly; structural pins: exact
    tier recall 1.0 and full-corpus census, hamming exact pool capped
    at HAMMING_POOL, every fraction in [0, 1], censuses within corpus
    bounds."""
    from mapreduceplusplus_spark import registry
    from mapreduceplusplus_spark.llm import similarity as S
    from tests.conftest import SF_DIR_ORACLE

    qs = registry.queries()
    curve = {
        r.tier: r for r in qs["sim_search_recall_curve"](
            spark, SF_DIR_ORACLE
        ).collect()
    }
    assert set(curve) == {
        "exact", "hamming", "mrl16", "sq8", "lsh", "lsh_multiprobe",
        "ivf", "ivf_sq8", "ivfpq",
    }
    exact_ids = {
        r.vec_id for r in qs["sim_search_topk"](spark, SF_DIR_ORACLE).collect()
    }
    n = curve["exact"].corpus_n
    assert curve["exact"].hits == S.TOP_K
    assert curve["exact"].recall_at_k == 1.0
    assert curve["exact"].cand_ranked == curve["exact"].cand_exact == n
    assert curve["hamming"].cand_exact == min(S.HAMMING_POOL, n)
    assert curve["mrl16"].cand_exact == min(S.MRL_POOL, n)
    assert curve["sq8"].cand_exact == min(S.SQ8_POOL, n)
    # the composite ranks within the IVF gate: same ranked census as
    # ivf, exact pool capped at SQ8_POOL of the gate
    assert curve["ivf_sq8"].cand_ranked == curve["ivf"].cand_ranked
    assert curve["ivf_sq8"].cand_exact == min(
        S.SQ8_POOL, curve["ivf"].cand_ranked
    )
    for tier, qname in [
        ("hamming", "sim_search_hamming_rerank"),
        ("mrl16", "sim_search_matryoshka_funnel"),
        ("sq8", "sim_search_sq8_rerank"),
        ("lsh", "sim_search_lsh"),
        ("ivf", "sim_search_ivf"),
        ("ivf_sq8", "sim_search_ivf_sq8"),
        ("ivfpq", "sim_search_ivfpq"),
    ]:
        ids = {r.vec_id for r in qs[qname](spark, SF_DIR_ORACLE).collect()}
        assert curve[tier].hits == len(ids & exact_ids), tier
    for r in curve.values():
        assert 0.0 <= r.recall_at_k <= 1.0, r
        assert 0 <= r.cand_exact <= r.cand_ranked <= n, r
        assert 0.0 <= r.frac_exact <= r.frac_ranked <= 1.0, r


def test_url_canonicalization_matches_python_reference(spark):
    """The dedup_url_canonical string surgery against a THIRD,
    independent implementation (pure Python) on adversarial raw URLs
    the fixture derivation never produces — multiple '?', params that
    are all tracking, a www host carrying a port, uppercase scheme
    remnants, '#' before '?' (fragment must win), repeated trailing
    slashes.  The Spark and DuckDB sides are already pinned equal by
    the oracle; this pins them to the SPEC."""
    import duckdb
    from pyspark.sql import functions as F

    from mapreduceplusplus_spark.llm.dedup import _url_canon_sql

    def py_canon(raw: str) -> str:
        import re

        u = re.sub(r"^https?://", "", raw)
        u = re.sub(r"#.*$", "", u)
        hostpath, _, q = u.partition("?")
        host = hostpath.split("/", 1)[0].lower()
        if host.startswith("www."):
            host = host[4:]
        host = re.sub(r":(443|80)$", "", host)
        path = re.sub(r"^[^/]*", "", hostpath)
        path = re.sub(r"/$", "", path)
        keep = sorted(
            p
            for p in q.split("&")
            if p != ""
            and p[:4] != "utm_"
            and p[:7] != "fbclid="
            and p[:6] != "gclid="
        )
        cq = "&".join(keep)
        return host + path + ("?" + cq if cq else "")

    cases = [
        "https://WWW.Ex.COM:443/a/b/?utm_source=x&z=1&a=2#frag",
        "http://ex.com/a?b=1?c=2",          # second '?' is part of the value
        "https://www.ex.com:80/",            # www + non-default-for-scheme port
        "http://EX.com/a//b///",             # case + repeated trailing slashes
        "https://ex.com/?utm_a=1&utm_b=2",   # all params tracking -> no query
        "http://ex.com#f?notquery=1",        # fragment BEFORE '?': all dropped
        "https://ex.com:443",                # bare host, port, no path
        "http://wwwx.ex.com/p",              # 'www' prefix only with the dot
        "https://ex.com/p?fbclid=abc&gclid=x&page=2&b=1",
    ]
    e = _url_canon_sql("spark")
    df = (
        spark.createDataFrame([(c,) for c in cases], "raw_url string")
        .withColumn("u", F.expr(e["strip"]))
        .select(
            "raw_url",
            F.expr(e["host"]).alias("host"),
            F.expr(e["path"]).alias("path"),
            F.expr(e["cq"]).alias("cq"),
        )
        .select("raw_url", F.expr(e["curl"]).alias("curl"))
    )
    got_spark = {r.raw_url: r.curl for r in df.collect()}
    d = _url_canon_sql("duckdb")
    con = duckdb.connect()
    got_duck = {}
    for c in cases:
        [(curl,)] = con.execute(
            f"""WITH raw AS (SELECT ? AS raw_url),
            u AS (SELECT {d["strip"]} AS u FROM raw),
            hp AS (SELECT {d["host"]} AS host, {d["path"]} AS path,
                          {d["cq"]} AS cq FROM u)
            SELECT {d["curl"]} FROM hp""",
            [c],
        ).fetchall()
        got_duck[c] = curl
    for c in cases:
        assert got_spark[c] == py_canon(c), (c, got_spark[c], py_canon(c))
        assert got_duck[c] == py_canon(c), (c, got_duck[c], py_canon(c))


def test_boilerplate_pair_plan_shape_and_consistency(spark):
    """The r15 boilerplate pair's scale claims, pinned on the executed
    plans: (a) no CartesianProduct / BroadcastNestedLoop anywhere; (b)
    the join-back of segments to the df-gated boilerplate set is a
    BroadcastHashJoin (the build side holds only REPEATED segments —
    per-domain template vocabulary, not corpus size); and (c) the two
    queries agree with each other: identical n_tokens and
    n_retained_tokens per doc, and a document is scrubbed
    (retained_fp ≠ md5(full-token join)) iff the stats twin reports
    n_boiler_segments > 0."""
    import hashlib
    import re as _re

    qs = registry.queries()
    dfs = {
        name: qs[name](spark, SF_DIR_ORACLE)
        for name in ("dedup_boilerplate_lines", "dedup_boilerplate_scrub")
    }
    for name, df in dfs.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoop" not in plan, name
        assert "BroadcastHashJoin" in plan, f"{name}: df-gate join not broadcast"
    stats = {r.doc_id: r for r in dfs["dedup_boilerplate_lines"].collect()}
    scrub = {r.doc_id: r for r in dfs["dedup_boilerplate_scrub"].collect()}
    assert set(stats) == set(scrub)
    from mapreduceplusplus_spark.sources.tables import load_table

    texts = {
        r.doc_id: r.text
        for r in load_table(spark, SF_DIR_ORACLE, "documents")
        .select("doc_id", "text")
        .collect()
    }
    n_scrubbed = 0
    for doc_id, s in stats.items():
        c = scrub[doc_id]
        assert s.n_tokens == c.n_tokens
        assert s.n_retained_tokens == c.n_retained_tokens
        full = " ".join(_re.findall(r"[a-z]+", texts[doc_id].lower()))
        full_fp = hashlib.md5(full.encode()).hexdigest()
        if s.n_boiler_segments > 0:
            assert c.retained_fp != full_fp, doc_id
            n_scrubbed += 1
        else:
            assert c.retained_fp == full_fp, doc_id
    assert n_scrubbed > 0, "fixture produced no boilerplate — gate untested"
