"""Similarity search over embedding columns (SURVEY.md §2.B row
``sim_search_topk`` + scale-path extension ``sim_search_lsh``).

North-star mandate: approximate-nearest-neighbor over an
``array<float>`` embedding column.  The full ANN ladder (r15), cheapest
index to richest:

- ``sim_search_topk`` — EXACT brute-force cosine top-k: one scan, a
  per-row dot product via higher-order ``zip_with``/``aggregate``
  (Catalyst expressions, whole-stage-codegen'd, no Python), then
  ``orderBy().limit(k)`` which Spark plans as TakeOrderedAndProject
  (per-task k-row heap + driver merge — no global sort, no shuffle of
  the full table).  At 100 TB this is the honest scan-bound baseline:
  cost = one pass over the vectors, perfectly parallel.
- ``sim_search_hamming_rerank`` — the 1-BIT tier: sign-bit binary
  sketches (8 B/vector), integer Hamming pool, exact re-rank — still a
  full scan, but the cheapest per-candidate comparison in the family.
- ``sim_search_sq8_rerank`` — the INT8 tier (r16, FAISS
  ``IndexScalarQuantizer(QT_8bit)``): per-vector scale + one int8 code
  per dim (1 B/dim, 4-8× less I/O than floats), asymmetric
  reconstructed-dot ranking with an exact-integer probe, bounded-pool
  exact re-rank — the standard middle rung between sign bits and PQ
  when codebook training isn't warranted.
- ``sim_search_matryoshka_funnel`` — the DIMENSION axis (r16, Kusupati
  MRL adaptive retrieval): coarse-rank on a persisted 16-dim prefix
  store (4× less I/O per scanned candidate, zero quantization error in
  the coarse key), bounded-pool exact full-width re-rank — orthogonal
  to the per-dim precision tiers above.
- ``sim_search_lsh*`` — random-hyperplane LSH (Charikar) bucket index;
  the probe is compared only against vectors whose signature falls in
  the probe's bucket.  Bucketing is an equi-filter (at scale: an
  equi-JOIN on bucket id for batched probes, or a bucketed/partitioned
  table so Catalyst prunes partitions), so the quadratic never
  materializes and the scan shrinks by ~2^bits; multi-probe Hamming-1
  fan-out is the recall knob.
- ``sim_search_ivf*`` — inverted-file coarse quantization (seed and
  k-means-trained centroids; in-plan lists or a cid-partitioned
  parquet index with PartitionFilters I/O pruning).
- ``sim_search_ivf_sq8`` — the IVF×SQ8 COMPOSITE (r16, FAISS
  ``index_factory("IVFx,SQ8")``): the IVF gate prunes rows to
  nprobe/C cells, int8 codes prune bytes within them — the two
  pruning axes multiplied, the workhorse mid-tier of production
  vector stores.
- ``sim_search_ivfpq*`` — IVF + product quantization (8×16 codes, 32×
  compression, ADC lookup scan, exact re-rank) under cosine / dot /
  L2 metrics.

Every tier returns EXACT full-precision scores for its survivors —
recall is the only degrading axis (the repo-wide ANN contract) — and
every index path is integer-exact, so the whole family is
DuckDB-oracle-checked end to end (r14–r15).

Deterministic throughout: hyperplanes are pseudo-random ±1 vectors
derived from fixed-seed ``xxhash64(bit_index, dim_index)`` — no RNG
state, bit-for-bit reproducible across runs and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduceplusplus_spark.llm import index_store
from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.session import ensure_utc
from mapreduceplusplus_spark.sources.tables import load_table

#: probe = the embedding of this vec_id (deterministic, present at
#: every scale factor)
PROBE_ID = 0
TOP_K = 10
#: hyperplane count for the LSH variant → 2^4 = 16 buckets
LSH_BITS = 4


def _as_double(col: str | Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))




#: sim_search_topk's oracle, shared verbatim with the hybrid-RRF
#: fusion oracle (which nests it as a CTE body)
_TOPK_ORACLE = f"""
    WITH probe AS (
      SELECT CAST(embedding AS DOUBLE[]) AS pv FROM embeddings WHERE vec_id = {PROBE_ID}
    ),
    scored AS (
      SELECT e.vec_id, e.label,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) AS c
      FROM embeddings e, probe p
      WHERE e.vec_id <> {PROBE_ID}
    )
    SELECT vec_id, label, round(c, 3) + 0 AS cosine,
           CAST(row_number() OVER (ORDER BY c DESC, vec_id) AS BIGINT) AS rnk
    FROM scored
    ORDER BY c DESC, vec_id
    LIMIT {TOP_K}
    """


@query("sim_search_topk", oracle=_TOPK_ORACLE)
def sim_search_topk(
    spark: SparkSession, sf_dir: str, _emb: DataFrame | None = None
) -> DataFrame:
    """Exact brute-force cosine top-k vs one probe vector.  The probe
    row is a 1-row broadcast (no shuffle of the big side); scoring is a
    map-side zip_with; ``orderBy.limit(k)`` → TakeOrderedAndProject.
    vec_id tiebreaker keeps ties deterministic; the achieved rank is
    materialized (``rnk``) so the order-insensitive hash still checks
    ordering.

    ``_emb`` (private): a precomputed ``(vec_id, label, v)`` frame —
    the recall curve passes its ONE checkpointed corpus materialization
    so the composed plan scans the corpus once instead of per tier
    (r17, the ``_lsh_topk`` ``_emb`` device); the expression it
    replaces is identical, so the scored doubles — and therefore the
    raw-double ranking — are bit-identical."""
    ensure_utc(spark)
    emb = (
        _emb.select("vec_id", "label", "v")
        if _emb is not None
        else load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", _as_double("embedding").alias("v")
        )
    )
    probe = (
        emb.where(F.col("vec_id") == PROBE_ID)
        .select(F.col("v").alias("pv"))
    )
    scored = (
        emb.where(F.col("vec_id") != PROBE_ID)
        # broadcast-safe: probe is a single query vector (1 row)
        .crossJoin(F.broadcast(probe))
        .withColumn("c", _dot(F.col("v"), F.col("pv")) / (_norm(F.col("v")) * _norm(F.col("pv"))))
    )
    topk = scored.orderBy(F.col("c").desc(), F.col("vec_id")).limit(TOP_K)
    w = Window.orderBy(F.col("c").desc(), F.col("vec_id"))
    return topk.select(
        "vec_id",
        "label",
        (F.round("c", 3) + F.lit(0.0)).alias("cosine"),
        F.row_number().over(w).cast("bigint").alias("rnk"),
    )


#: LSH hyperplane sign matrix (r14 ENGINE-PORTABLE family — the
#: ``dedup_minhash_near`` md5 device applied to random hyperplanes):
#: hyperplane i's dimension-d sign is +1 when the first hex nibble of
#: ``md5('h:i:d')`` ≥ 8, else −1 — reproducible from nothing but md5
#: by driver Python (literals below), Spark, and the DuckDB oracle.
#: Signs cover dims 0..LSH_DIM_MAX-1 (the embeddings table's fixed
#: width; a NARROWER vector zip_with-pads NULL and nulls the
#: projection — the affected bit degrades to 0, same on both engines).
LSH_DIM_MAX = 64


def _lsh_sign(i: int, d: int) -> int:
    import hashlib

    return 1 if int(hashlib.md5(f"h:{i}:{d}".encode()).hexdigest()[0], 16) >= 8 else -1


_LSH_SIGNS = [
    [_lsh_sign(i, d) for d in range(LSH_DIM_MAX)] for i in range(LSH_BITS)
]

#: the same sign matrix as an oracle-side SQL fragment: per-(i, d)
#: sign from md5, the exact expression the Python above evaluates
LSH_SIGN_SQL = (
    "CASE WHEN ('0x' || substr(md5('h:' || {i} || ':' || {d}), 1, 1))::BIGINT"
    " >= 8 THEN 1 ELSE -1 END"
)


#: shared oracle CTE chain computing (vec_id, bucket) for every
#: embedding — the EXACT integer formulation lsh_signature evaluates
#: (micro-quantized Rademacher projections, md5-derived signs), so the
#: four LSH queries' oracles replay the bucketing bit-for-bit
LSH_BUCKET_CTE = f"""signs AS (
      SELECT t.i AS i, r.d AS d,
             {LSH_SIGN_SQL.format(i="t.i", d="r.d")} AS s
      FROM range({LSH_BITS}) t(i) CROSS JOIN range({LSH_DIM_MAX}) r(d)
    ),
    vm AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) - 1 AS d,
             CAST(round(1000000 * CAST(unnest(embedding) AS DOUBLE))
                  AS BIGINT) AS xm
      FROM embeddings
    ),
    proj AS (
      SELECT vm.vec_id, s.i, sum(vm.xm * s.s) AS pr
      FROM vm JOIN signs s ON s.d = vm.d
      GROUP BY vm.vec_id, s.i
    ),
    bucket AS (
      SELECT vec_id,
             CAST(sum(CASE WHEN pr > 0 THEN 1 << i ELSE 0 END)
                  AS BIGINT) AS bucket
      FROM proj GROUP BY vec_id
    )"""


def lsh_micro(v: Column) -> Column:
    """Micro-quantized integer copy of a double vector —
    ``round(10⁶·x)`` per element as BIGINT, the exact projection
    domain of the portable LSH signature."""
    return F.transform(v, lambda x: F.round(F.lit(1000000) * x).cast("long"))


def lsh_signature(v: Column | str, bits: int = LSH_BITS) -> Column:
    """Random-hyperplane signature as an integer bucket id in
    [0, 2^bits).  Hyperplane ``i`` is the deterministic ±1 Rademacher
    vector of ``_LSH_SIGNS`` (md5-derived — see ``LSH_DIM_MAX`` note);
    the projection is the INTEGER sum Σ_d ±round(10⁶·x_d), exact under
    any accumulation order and identical in DuckDB SQL — which is what
    makes the whole LSH family oracle-checkable (r1–r13 used
    xxhash64-signed FLOAT sums: Spark-only, and order-sensitive in the
    last ulp).  |Σ| ≤ 64·10⁶·max|x| — far inside BIGINT.

    When ``v`` is a column NAME the whole signature is rendered as one
    SQL string and parsed JVM-side (r16): the Column-API form issues
    bits × 64 literal py4j calls per invocation (~0.3 s of driver
    time); the parsed tree is identical (integer ops — bit-exact by
    construction) and the oracle's ``LSH_BUCKET_CTE`` replays it."""
    if isinstance(v, str):
        vm = f"transform({v}, x -> CAST(round(1000000 * x) AS BIGINT))"
        parts = []
        for i in range(bits):
            signs = "array(" + ", ".join(f"{s}L" for s in _LSH_SIGNS[i]) + ")"
            proj = (
                f"aggregate(zip_with({vm}, {signs}, (x, s) -> x * s),"
                " 0L, (acc, x) -> acc + x)"
            )
            parts.append(
                f"shiftleft(CAST(CASE WHEN {proj} > 0"
                f" THEN 1 ELSE 0 END AS BIGINT), {i})"
            )
        return F.expr("0L | " + " | ".join(parts))
    vm = lsh_micro(v)
    bucket = F.lit(0).cast("long")
    for i in range(bits):
        signs = F.array(*[F.lit(s) for s in _LSH_SIGNS[i]])
        proj = F.aggregate(
            F.zip_with(vm, signs, lambda x, s: x * s),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bucket = bucket.bitwiseOR(
            F.shiftleft(F.when(proj > 0, 1).otherwise(0).cast("long"), i)
        )
    return bucket


def _lsh_topk(
    spark: SparkSession,
    sf_dir: str,
    multiprobe: bool,
    _emb: DataFrame | None = None,
) -> DataFrame:
    """Shared LSH ANN builder.  ``multiprobe=False`` scores only the
    probe's own bucket; ``multiprobe=True`` additionally visits every
    bucket at Hamming distance 1 from the probe's signature (``bits``
    extra bucket ids — flip each hyperplane bit once), the standard
    recall knob: a near neighbor that landed just across ONE hyperplane
    is recovered.  The probe-bucket set is computed INSIDE the 1-row
    broadcast probe row, so the candidate filter stays a pure map-side
    ``array_contains`` after the same broadcast nested-loop join — the
    plan shape (one scan + 1-row broadcast + TakeOrderedAndProject) is
    identical in both modes, no new shuffle.

    ``_emb`` (private): a precomputed (vec_id, label, v, bucket)
    frame — the recall curve passes its ONE checkpointed signature
    scan so the composed plan hashes the corpus once instead of per
    tier/census (r16); the expression it replaces is identical."""
    ensure_utc(spark)
    emb = (
        _emb
        if _emb is not None
        else load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", _as_double("embedding").alias("v"))
        .withColumn("bucket", lsh_signature("v"))
    )
    pbucket = F.col("bucket")
    probe_buckets = (
        F.array(*_probe_bucket_set(pbucket))
        if multiprobe
        else F.array(pbucket)
    )
    probe = (
        emb.where(F.col("vec_id") == PROBE_ID)
        .select(F.col("v").alias("pv"), probe_buckets.alias("pbuckets"))
    )
    # rank by the integer micro-cosine (the mmr_rerank device) with a
    # vec_id tiebreak — raw-double ranking would leave the r14 oracles
    # exposed to cross-engine ULP rank flips (ADVICE r13)
    mc = F.round(F.lit(1000000) * F.col("c")).cast("bigint")
    cand = (
        emb.where(F.col("vec_id") != PROBE_ID)
        # broadcast-safe: probe is a single query vector (1 row)
        .crossJoin(F.broadcast(probe))
        .where(F.array_contains(F.col("pbuckets"), F.col("bucket")))
        .withColumn("c", _dot(F.col("v"), F.col("pv")) / (_norm(F.col("v")) * _norm(F.col("pv"))))
    )
    topk = cand.orderBy(mc.desc(), F.col("vec_id")).limit(TOP_K)
    w = Window.orderBy(mc.desc(), F.col("vec_id"))
    return topk.select(
        "vec_id",
        "label",
        (F.round("c", 3) + F.lit(0.0)).alias("cosine"),
        F.row_number().over(w).cast("bigint").alias("rnk"),
    )


_LSH_TOPK_ORACLE_BODY = f"""
    probe AS (
      SELECT CAST(embedding AS DOUBLE[]) AS pv FROM embeddings
      WHERE vec_id = {{pid}}
    ),
    pb AS (SELECT bucket AS pb FROM bucket WHERE vec_id = {{pid}}),
    cand AS (
      SELECT e.vec_id, e.label,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) AS c
      FROM embeddings e
      JOIN bucket b ON b.vec_id = e.vec_id
      CROSS JOIN pb CROSS JOIN probe p
      WHERE e.vec_id <> {{pid}} AND b.bucket IN ({{bset}})
    )
    SELECT vec_id, label, round(c, 3) + 0 AS cosine,
           CAST(row_number() OVER (
             ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id)
             AS BIGINT) AS rnk
    FROM cand
    ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id
    LIMIT {TOP_K}
    """


@query(
    "sim_search_lsh",
    oracle=f"""
    WITH {{cte}},{{body}}
    """.format(
        cte=LSH_BUCKET_CTE,
        body=_LSH_TOPK_ORACLE_BODY.format(pid=PROBE_ID, bset="pb.pb"),
    ),
)
def sim_search_lsh(
    spark: SparkSession, sf_dir: str, _emb: DataFrame | None = None
) -> DataFrame:
    """ANN top-k via random-hyperplane LSH: score ONLY the vectors in
    the probe's bucket (~1/2^bits of the table), exact cosine within
    the bucket.  Recall is partial by design (ANN contract) and
    measured against ``sim_search_topk`` in tests;
    ``sim_search_lsh_multiprobe`` is the recall knob."""
    return _lsh_topk(spark, sf_dir, multiprobe=False, _emb=_emb)


@query(
    "sim_search_lsh_multiprobe",
    oracle="""
    WITH {cte},{body}
    """.format(
        cte=LSH_BUCKET_CTE,
        body=_LSH_TOPK_ORACLE_BODY.format(pid=PROBE_ID, bset="pb.pb, xor(pb.pb, 1), xor(pb.pb, 2), xor(pb.pb, 4), xor(pb.pb, 8)"),
    ),
)
def sim_search_lsh_multiprobe(
    spark: SparkSession, sf_dir: str, _emb: DataFrame | None = None
) -> DataFrame:
    """Hamming-1 multi-probe LSH (VERDICT r7 item 4): the probe visits
    its own bucket PLUS the ``LSH_BITS`` buckets one hyperplane-flip
    away — ``bits + 1`` bucket ids in the membership filter, recovering
    near neighbors that fell just across a single hyperplane.  Expected
    candidate volume rises from ~n/2^bits to ~n·(bits+1)/2^bits, still
    exponentially far from the n² quadratic; recall is pinned ≥ the
    single-probe variant's against the exact ``sim_search_topk``."""
    return _lsh_topk(spark, sf_dir, multiprobe=True, _emb=_emb)


#: IVF coarse-quantizer configuration: 16 sampled centroids, probe the
#: 4 nearest lists.  Centroids are the C lowest vec_ids — deterministic
#: sampled-centroid IVF-flat (production systems refine these with
#: k-means, e.g. pyspark.ml KMeans; the INDEX/PROBE plan shape below is
#: identical either way and is what this operator pins down).
IVF_CENTROIDS = 16
IVF_NPROBE = 4


def _dedupe_seed_rows(rows) -> list[tuple[int, list[float]]]:
    """Dedupe driver-collected (vec_id, v) rows by vec_id, sorted —
    deterministically (lowest vector under the (id, values) sort
    wins).  A physically-duplicated corpus (the N×-replication scale
    fixture, or a re-ingested shard at 100 TB) must not silently
    multiply a seed set: every duplicate row became an argmax BRANCH
    in the per-row assignment expression before this (25× replication
    → a 400-way expression per row, measured ~16× slower).  ONE
    definition for all three seed collectors (review r9)."""
    uniq: dict[int, list[float]] = {}
    for r in sorted(rows, key=lambda r: (int(r.vec_id), [float(x) for x in r.v])):
        uniq.setdefault(int(r.vec_id), [float(x) for x in r.v])
    return sorted(uniq.items())


def _py_cos(a: list[float], b: list[float]) -> float:
    import math

    d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return d / (na * nb) if na and nb else 0.0


def _py_mc(c: float) -> int:
    """round(10⁶·c) with HALF-AWAY-FROM-ZERO ties — the exact Spark
    ``F.round`` / DuckDB ``round`` semantics (Python's builtin round is
    banker's and would disagree at .5 boundaries); driver-side twin of
    the micro-cosine quantization device."""
    import math

    x = 1000000 * c
    return int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))


#: shared oracle for the seed-centroid IVF variants: replays the
#: micro-quantized assignment argmax, the probe's nprobe-list pick,
#: and the exact-cosine re-rank — ``sim_search_ivf`` (in-plan filter)
#: and ``sim_search_ivf_partitioned`` (cid-partitioned parquet index,
#: partition-pruned probe) share SEMANTICS; the parquet layout is the
#: physical strategy under the same contract, so one oracle serves both
_IVF_ORACLE = f"""
    WITH cents AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id < {IVF_CENTROIDS}
    ),
    probe AS (
      SELECT CAST(embedding AS DOUBLE[]) AS pv FROM embeddings
      WHERE vec_id = {PROBE_ID}
    ),
    ac AS (
      SELECT e.vec_id, c.cid,
             CAST(round(1000000 * list_cosine_similarity(
               CAST(e.embedding AS DOUBLE[]), c.cv)) AS BIGINT) AS mc
      FROM embeddings e CROSS JOIN cents c
    ),
    asg AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY mc DESC, cid) AS rn
        FROM ac) WHERE rn = 1
    ),
    pc AS (
      SELECT cid FROM (
        SELECT c.cid,
               row_number() OVER (
                 ORDER BY CAST(round(1000000 * list_cosine_similarity(
                   c.cv, p.pv)) AS BIGINT) DESC, c.cid) AS rn
        FROM cents c CROSS JOIN probe p) WHERE rn <= {IVF_NPROBE}
    ),
    cand AS (
      SELECT e.vec_id, e.label,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) AS c
      FROM embeddings e
      JOIN asg a ON a.vec_id = e.vec_id
      CROSS JOIN probe p
      WHERE a.cid IN (SELECT cid FROM pc) AND e.vec_id <> {PROBE_ID}
    )
    SELECT vec_id, label, round(c, 3) + 0 AS cosine,
           CAST(row_number() OVER (
             ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id)
             AS BIGINT) AS rnk
    FROM cand
    ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id
    LIMIT {TOP_K}
    """


@query("sim_search_ivf", oracle=_IVF_ORACLE)
def sim_search_ivf(
    spark: SparkSession, sf_dir: str, _seed: tuple | None = None
) -> DataFrame:
    """ANN top-k via IVF (inverted-file) coarse quantization — the
    third ANN tier next to brute-force and LSH, and the one real
    vector stores default to:

    1. INDEX: C centroid vectors (bounded, driver-collected — the same
       driver-side-literal pattern as ``sort_global``'s quantile
       boundaries) are embedded as LITERAL arrays; every vector's
       nearest-centroid assignment is then a pure map-side expression —
       ZERO shuffle to build the inverted lists;
    2. PROBE: the probe vector's ``IVF_NPROBE`` nearest centroids are
       computed driver-side (C tiny cosines in Python); the scan keeps
       only vectors assigned to those lists — at scale the lists are a
       table partitioned by ``cid``, so Catalyst prunes ~(1 -
       nprobe/C) of the data before reading it;
    3. exact cosine on the surviving ~nprobe/C of the table, then
       TakeOrderedAndProject top-k.

    Recall is partial by design (ANN contract) and measured against
    ``sim_search_topk``; raising ``IVF_NPROBE`` is the recall knob.

    ``_seed`` (private): a precomputed ``_ivf_seed_lists`` triple —
    the recall curve passes its ONE checkpointed assignment so the
    composed plan evaluates the argmax once instead of per tier
    (r16); semantics are identical because the triple is exactly what
    ``_ivf_seed_lists`` returns."""
    ensure_utc(spark)
    assigned, probe_v, probe_cids = _seed or _ivf_seed_lists(spark, sf_dir)
    cand = assigned.where(
        F.col("cid").isin(*probe_cids) & (F.col("vec_id") != PROBE_ID)
    )
    return _ivf_score_topk(cand, probe_v)


#: memoized DRIVER-SIDE IVF seed state — (cents, probe_v, probe_cids)
#: per (applicationId, sf_dir, dataset fingerprint).  The seed
#: centroids and the probe ARE the IVF index's quantizer: bounded
#: (≤ IVF_CENTROIDS + 1 rows), deterministic for a dataset version,
#: and re-collected identically by every IVF-family query — the same
#: standing index-amortization policy as the on-disk index store and
#: dedup's ``_SCALAR_MEMO`` (bounded census results).  Saves 2 driver
#: jobs per warm IVF-family invocation (r16 measurement: the curve
#: alone paid 8).
_IVF_SEED_MEMO: dict[tuple, tuple] = {}


def _evict_stale_seeds(memo_key: tuple) -> None:
    """Drop seed-memo entries for SUPERSEDED dataset fingerprints of
    the same (applicationId, sf_dir) (ADVICE r16): a long-lived session
    that rewrites the embeddings under one directory changes the
    fingerprint component of the key, and without eviction the stale
    quantizer inputs would accumulate for the life of the context.
    Called on every memo MISS — the keys share their first two
    components and differ in the third (the ``pq_seeds``-tagged keys
    carry a fourth marker component and the same layout)."""
    for k in [
        k
        for k in _IVF_SEED_MEMO
        if k[:2] == memo_key[:2] and k[2] != memo_key[2]
    ]:
        del _IVF_SEED_MEMO[k]


def _probe_vector(
    spark: SparkSession, sf_dir: str, emb: DataFrame
) -> list[float] | None:
    """Bounded 1-row probe fetch shared by the ladder tiers, memoized
    per (context, dataset version) in ``_IVF_SEED_MEMO`` (r17): the
    probe vector is a quantizer INPUT under the same standing
    amortization policy as the seed centroids — every tier collected
    the identical row with its own job (~0.25 s each warm; the curve
    paid three).  Returns ``None`` for a probe-less corpus (tiers
    degrade per their own contracts; the miss is NOT memoized so a
    later-appended probe is seen)."""
    key = (
        spark.sparkContext.applicationId,
        sf_dir,
        _embeddings_fingerprint(sf_dir),
        "probe_v",
    )
    pv = _IVF_SEED_MEMO.get(key)
    if pv is None:
        _evict_stale_seeds(key)
        rows = (
            emb.where(F.col("vec_id") == PROBE_ID)
            .select("v")
            .limit(1)
            .collect()
        )
        if not rows:
            return None
        pv = [float(x) for x in rows[0][0]]
        _IVF_SEED_MEMO[key] = pv
    return pv


def _ivf_seed_lists(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[float], list[int]]:
    """Shared IVF index builder (seed-centroid quantizer): returns the
    corpus with its nearest-centroid assignment as a map-side ``cid``
    column (zero shuffle), the probe vector, and the probe's
    ``IVF_NPROBE`` nearest centroid ids.  Callers choose the list
    REPRESENTATION: ``sim_search_ivf`` filters the in-plan column,
    ``sim_search_ivf_partitioned`` materializes the lists as a
    cid-partitioned parquet index and lets partition pruning do the
    filtering at the I/O layer."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    memo_key = (
        spark.sparkContext.applicationId,
        sf_dir,
        _embeddings_fingerprint(sf_dir),
    )
    memo = _IVF_SEED_MEMO.get(memo_key)
    if memo is not None:
        cents, probe_v, probe_cids = memo
    else:
        _evict_stale_seeds(memo_key)
        cent_rows = (
            emb.where(F.col("vec_id") < IVF_CENTROIDS)
            .select("vec_id", "v")
            .collect()
        )
        cents = _dedupe_seed_rows(cent_rows)
        # loud empty-corpus contract (ADVICE r9): on a corpus with no seed
        # vectors or no probe row, the argmax expression below would be
        # built over zero centroids and the probe collect would IndexError
        # — fail with a clear message instead of an opaque crash.  Callers
        # that degrade (sim_search_ivfpq's exact-scan fallback) handle the
        # "non-empty but fewer seeds than expected" case; truly probe-less
        # data is a caller error.
        if not cents:
            raise ValueError(
                f"IVF index build: no centroid seed vectors (vec_id < "
                f"{IVF_CENTROIDS}) in {sf_dir!r} — cannot quantize an empty corpus"
            )
        probe_rows = emb.where(F.col("vec_id") == PROBE_ID).collect()
        if not probe_rows:
            raise ValueError(
                f"IVF probe: no row with vec_id == {PROBE_ID} in {sf_dir!r}"
            )
        probe_v = [float(x) for x in probe_rows[0].v]
        # micro-quantized probe ranking (matches the oracle's integer
        # ORDER BY and the assignment argmax above)
        probe_cids = [
            cid
            for cid, cv in sorted(
                cents, key=lambda t: (-_py_mc(_py_cos(t[1], probe_v)), t[0])
            )[:IVF_NPROBE]
        ]
        _IVF_SEED_MEMO[memo_key] = (cents, probe_v, probe_cids)

    import math

    # the row's L2 norm is centroid-independent: hoist it into ONE
    # projected column instead of re-folding it inside each of the
    # |cents| cosines (r16 — the r14 pair-cosine norm hoist applied to
    # the assignment argmax: |cents| interpreted 64-element folds per
    # row become 1 wherever the projection materializes; the quotient
    # double is bit-identical because the hoisted expression tree is
    # unchanged, only named).  The struct array is built as ONE SQL
    # string parsed JVM-side (r16): the Column-API form issued
    # thousands of py4j calls (|cents| structs × 64-element literal
    # arrays), several hundred ms of pure driver time per invocation;
    # repr(float) + the D suffix round-trips every double bit-exactly
    # (probe-verified incl. -0.0, denormals, 1e300).
    #
    # argmax over (micro-score, -cid): struct max picks the highest
    # INTEGER micro-cosine (round(10⁶·cos) — the mmr_rerank device;
    # r14: raw-double argmax left the assignment exposed to
    # cross-engine ULP flips now that the IVF oracle replays it), ties
    # break to the LOWEST centroid id — deterministic assignment
    def _arr_d(vec: list[float]) -> str:
        # loud contract (ADVICE r16): a non-finite centroid component
        # would render as 'nanD'/'infD' and fail SQL parsing with an
        # opaque error (the replaced F.lit path built valid
        # NaN/Infinity literals) — name the corrupt input instead
        if not all(math.isfinite(float(x)) for x in vec):
            raise ValueError(
                "IVF centroid has a non-finite component — refusing to "
                "render a non-finite literal into the assignment SQL"
            )
        return "array(" + ", ".join(f"{float(x)!r}D" for x in vec) + ")"

    structs = ", ".join(
        "named_struct('s', CAST(round(1000000 * ("
        f"aggregate(zip_with(v, {_arr_d(cv)}, (x, y) -> x * y), 0.0D,"
        " (acc, x) -> acc + x)"
        f" / (_nv * {math.sqrt(sum(x * x for x in cv))!r}D))) AS BIGINT),"
        f" 'negid', {-cid})"
        for cid, cv in cents
    )
    best = F.array_max(F.expr(f"array({structs})"))
    assigned = (
        emb.withColumn("_nv", _norm(F.col("v")))
        .withColumn("cid", (-best["negid"]).cast("int"))
        .drop("_nv")
    )
    return assigned, probe_v, probe_cids


def _ivf_score_topk(
    cand: DataFrame, probe_v: list[float], metric: str = "cosine"
) -> DataFrame:
    """EXACT scoring + deterministic top-k over surviving IVF
    candidates — the tail shared by every IVF variant.  ``metric``
    selects the exact scorer and sort direction: ``cosine`` / ``dot``
    rank descending (similarities), ``l2`` ranks ASCENDING (a
    distance) and emits ``l2_dist``; returned scores are always
    full-precision exact (the repo-wide ANN contract: recall is the
    only degrading axis, never score fidelity)."""
    import math

    pv_lit = F.array(*[F.lit(x) for x in probe_v])
    pn = math.sqrt(sum(x * x for x in probe_v))
    dotc = _dot(F.col("v"), pv_lit)
    if metric == "cosine":
        score, col, asc = dotc / (_norm(F.col("v")) * F.lit(pn)), "cosine", False
    elif metric == "dot":
        score, col, asc = dotc, "dot", False
    elif metric == "l2":
        # ‖q−x‖² = ‖q‖² − 2·q·x + ‖x‖², sqrt'd once for the emitted
        # distance (sort on the squared form would be equivalent).
        # CLAMP at 0 before the sqrt (r10 review): for a candidate
        # equal to the probe the expression is analytically 0 but
        # fl(fl(√S)²) rounds below S about half the time, the argument
        # lands at ~-4e-16, sqrt returns NaN, and Spark sorts NaN
        # LARGEST — the true nearest neighbor would rank last.
        nsq = F.aggregate(
            F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x
        )
        score = F.sqrt(
            F.greatest(F.lit(0.0), F.lit(pn * pn) - 2.0 * dotc + nsq)
        )
        col, asc = "l2_dist", True
    else:  # pragma: no cover - caller bug
        raise ValueError(f"unknown IVF metric: {metric!r}")
    scored = cand.withColumn("c", score)
    # micro-quantized rank (the mmr_rerank device — r14): ULP-stable
    # ordering for the oracle-replayed variants; ASC for distances
    mc = F.round(F.lit(1000000) * F.col("c")).cast("bigint")
    order = [mc.asc() if asc else mc.desc(), F.col("vec_id")]
    topk = scored.orderBy(*order).limit(TOP_K)
    w = Window.orderBy(*order)
    return topk.select(
        "vec_id",
        "label",
        (F.round("c", 3) + F.lit(0.0)).alias(col),
        F.row_number().over(w).cast("bigint").alias("rnk"),
    )


def _embeddings_fingerprint(sf_dir: str) -> tuple:
    """(relpath, mtime_ns, size) of every file under the embeddings
    parquet path — the content-version component of the seed-memo keys
    (a rewrite of the embeddings changes it, so stale quantizer inputs
    are never served)."""
    from mapreduceplusplus_spark.sources.tables import dataset_fingerprint

    return dataset_fingerprint(sf_dir, "embeddings")


@query("sim_search_ivf_partitioned", oracle=_IVF_ORACLE)
def sim_search_ivf_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the inverted lists MATERIALIZED as a
    cid-PARTITIONED parquet index — the on-disk layout a 100 TB vector
    store actually uses, and the step ``sim_search_ivf``'s docstring
    promises ("at scale the lists are a table partitioned by cid"):

    1. INDEX BUILD (write-once): the same seed-centroid map-side
       assignment, written ``partitionBy("cid")`` — one directory per
       inverted list, no shuffle (the writer splits files per
       partition value within each task);
    2. PROBE (per query): re-read the index with ``cid IN
       probe_cids``.  Because ``cid`` is a PARTITION column, Catalyst
       turns the predicate into ``PartitionFilters`` — the non-probed
       ~(1 - nprobe/C) of the index is pruned at FILE LISTING time,
       never opened, never read: real I/O pruning, not a post-scan
       filter (the plan pin asserts the pruned scan);
    3. exact cosine + top-k identical to ``sim_search_ivf`` — the two
       variants return row-identical results by construction.

    At 100 TB the build is a one-time batch job and each probe touches
    only nprobe/C of the bytes; refreshing a list is an overwrite of
    one partition directory (``partitionOverwriteMode=dynamic``).
    Reference heritage: none (SURVEY §2 charter extension, similarity
    family)."""
    ensure_utc(spark)
    assigned, probe_v, probe_cids = _ivf_seed_lists(spark, sf_dir)
    # Built once per dataset version in the shared index store: the
    # probe plan reads the index LAZILY (the PartitionFilters pin needs
    # the real scan in the returned plan), so neither a fresh dir per
    # call (one copy per bench rep) nor an overwrite-in-place slot
    # (clobbers an earlier invocation's still-unconsumed plan) is safe.
    # Sessions and processes share the build — the index content is
    # conf-independent (deterministic integer seed assignment over the
    # parquet bytes; the hostile-config twin test pins identical
    # output under different session confs).
    def _build(d: str) -> None:
        assigned.write.mode("overwrite").partitionBy("cid").parquet(d)

    index_dir = index_store.index_dir("ivf_index", sf_dir, "embeddings", _build)
    lists = spark.read.parquet(index_dir)
    cand = lists.where(
        F.col("cid").isin(*probe_cids) & (F.col("vec_id") != PROBE_ID)
    )
    return _ivf_score_topk(cand, probe_v)


#: k-NN join: every vec_id divisible by this is a probe (5 probes per
#: 500 corpus rows), each returning its KNN_K nearest corpus neighbors
KNN_PROBE_MOD = 100
KNN_K = 5


@query(
    "sim_search_knn_join",
    oracle=f"""
    WITH probes AS (
      SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
      FROM embeddings WHERE vec_id % {KNN_PROBE_MOD} = 0
    ),
    corpus AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id % {KNN_PROBE_MOD} <> 0
    ),
    scored AS (
      SELECT p.probe_id, c.vec_id, c.label,
             list_cosine_similarity(c.v, p.pv) AS s,
             row_number() OVER (PARTITION BY p.probe_id
                                ORDER BY list_cosine_similarity(c.v, p.pv) DESC,
                                         c.vec_id) AS rnk
      FROM probes p CROSS JOIN corpus c
    )
    SELECT probe_id, vec_id, label,
           round(s, 3) + 0 AS cosine,
           CAST(rnk AS BIGINT) AS rnk
    FROM scored WHERE rnk <= {KNN_K}
    """,
)
def sim_search_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched k-NN JOIN — the multi-probe form of ``sim_search_topk``
    and the actual shape of retrieval / cross-dataset near-dup jobs: a
    small probe set against the full corpus, k nearest per probe.

    Plan: the probe set (|corpus|/{KNN_PROBE_MOD} rows) is BROADCAST
    and nested-loop joined — scoring is map-side over the corpus scan,
    so the big side never shuffles for the join.  The per-probe top-k
    is ``row_number() <= k`` over (probe, score), which Spark 4 plans
    with WindowGroupLimit: each task keeps only k rows per probe BEFORE
    the exchange, so the shuffle carries ≤ tasks×probes×k rows — not
    the |corpus|×|probes| cross product (pinned in
    ``tests/test_operator_edges.py``).

    At 100 TB: broadcast holds to ~10k probes × 64 dims; beyond that,
    bucket both sides with ``lsh_signature`` and equi-join on the
    bucket id (the ``sim_search_lsh`` layout) before scoring.
    """
    ensure_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    probes = (
        emb.where(F.col("vec_id") % KNN_PROBE_MOD == 0)
        .select(
            F.col("vec_id").alias("probe_id"),
            _as_double("embedding").alias("pv"),
        )
        .withColumn("npv", _norm(F.col("pv")))
    )
    # norms hoisted to the per-VECTOR projections (r14): the norm is a
    # pure function of its vector, so precomputing it on each side and
    # multiplying the stored doubles is bit-identical to the per-pair
    # form — but the 64-element fold runs |corpus| + |probes| times
    # instead of 2·|pairs| (the interpreted HOF fold is the whole cost
    # of the brute-force family; sf1 measured ~3× on triplet mining)
    corpus = emb.where(F.col("vec_id") % KNN_PROBE_MOD != 0).select(
        "vec_id", "label", _as_double("embedding").alias("v")
    ).withColumn("nv", _norm(F.col("v")))
    # broadcast-safe: probes is the documented bounded probe set (<=
    # ~10k vectors per the operator contract; LSH-bucket fallback
    # documented beyond)
    scored = corpus.join(F.broadcast(probes)).withColumn(
        "s", _dot(F.col("v"), F.col("pv")) / (F.col("nv") * F.col("npv"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("s").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= KNN_K)
        .select(
            "probe_id",
            "vec_id",
            "label",
            (F.round("s", 3) + F.lit(0.0)).alias("cosine"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


@query(
    "sim_search_range",
    oracle=f"""
    WITH probe AS (
      SELECT CAST(embedding AS DOUBLE[]) AS pv FROM embeddings WHERE vec_id = {PROBE_ID}
    )
    SELECT e.vec_id, e.label,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv), 3) + 0
             AS cosine
    FROM embeddings e, probe p
    WHERE e.vec_id <> {PROBE_ID}
      AND list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) >= 0.25
    """,
)
def sim_search_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE similarity search — every vector with cosine ≥ τ of the
    probe (the dedup/recall-sweep complement of top-k: result size is
    data-dependent, not fixed).  Same physical shape as
    ``sim_search_topk`` — 1-row broadcast probe, map-side ``zip_with``
    scoring — but the selection is a pushed-down filter instead of
    TakeOrdered, so there is NO sort and NO limit stage at all: scan →
    score → filter, embarrassingly parallel at any scale.

    The τ = 0.25 threshold (chosen inside the fixture's score range at every SF) is compared on the RAW cosine (both engines'
    double arithmetic on identical inputs yields bit-identical values
    for the same expression shape); only the REPORTED value is rounded."""
    ensure_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    probe = emb.where(F.col("vec_id") == PROBE_ID).select(F.col("v").alias("pv"))
    scored = (
        emb.where(F.col("vec_id") != PROBE_ID)
        # broadcast-safe: probe is a single query vector (1 row)
        .crossJoin(F.broadcast(probe))
        .withColumn(
            "c",
            _dot(F.col("v"), F.col("pv"))
            / (_norm(F.col("v")) * _norm(F.col("pv"))),
        )
    )
    return scored.where(F.col("c") >= 0.25).select(
        "vec_id",
        "label",
        (F.round("c", 3) + F.lit(0.0)).alias("cosine"),
    )


#: Lloyd refinement iterations for the k-means IVF variant
IVF_KMEANS_ITERS = 2
#: positive shift for the integer-mean Lloyd update (the
#: ``ml_kmeans_lloyd`` device): |xq| ≤ 10⁶ < 2²¹, so xq + SHIFT > 0
#: and DuckDB's truncating ``//`` equals Python's floor division on
#: the shifted values — the mean stays exact-integer in both engines
_IVF_SHIFT = 1 << 21


def _explode_micro(emb: DataFrame) -> DataFrame:
    """(vec_id, dim, xq) — the vectors exploded to integer MICRO-UNIT
    cells, the shared relation every Lloyd job reuses (same shape as
    ``ml_kmeans_lloyd``'s).  Integer cells make every downstream sum
    partition-order-exact."""
    return emb.select(
        "vec_id", F.posexplode("v").alias("dim", "x")
    ).select(
        "vec_id",
        "dim",
        F.round(F.col("x") * 1_000_000).cast("bigint").alias("xq"),
    )


def _ivf_assign_join(
    spark: SparkSession, eq: DataFrame, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """(vec_id → nearest cid) via the exploded-join plan — the
    ``ml_kmeans_lloyd`` shape, NOT a k-cosine HOF expression per row:
    zip_with/aggregate lambdas are interpreted (no codegen), and the
    first cut's 16-cosine literal-argmax expression made every Lloyd
    job driver-build + interpret bound (~0.6 ms/row — LINEAR in rows,
    the harness caught it at 5×).  Here centroids become a broadcast
    k·d-row TABLE, the dot products are BIGINT micro-unit sums in a
    codegen'd hash aggregate (order-independent ⇒ deterministic), and
    the argmax of cosine reduces to argmax of dot/|c| (the vector's own
    norm is constant within its group), ties to the LOWEST cid via the
    (s, -cid) struct max — the same tie discipline as
    ``sim_search_ivf``.  Returns DataFrame[vec_id, cid]."""
    import math

    rows = []
    for cid, cv in cents:
        # half-away-from-zero micro quantization (_py_mc) — the same
        # rule as Spark F.round / DuckDB round, so the oracle's
        # seed-centroid quantization replays this bit-for-bit (Python's
        # builtin round is banker's and would disagree at .5 ties)
        cq = [_py_mc(x) for x in cv]
        cnorm = math.sqrt(sum(q * q for q in cq)) or 1.0
        rows.extend((cid, dim, q, cnorm) for dim, q in enumerate(cq))
    cent_tbl = spark.createDataFrame(
        rows, "cid int, dim int, cq bigint, cnorm double"
    )
    dots = (
        # broadcast-safe: centroid table is k·d rows (constant, config-bounded)
        eq.join(F.broadcast(cent_tbl), "dim")
        .groupBy("vec_id", "cid")
        .agg(
            F.sum(F.col("xq") * F.col("cq")).alias("dq"),
            F.max("cnorm").alias("cnorm"),
        )
    )
    return (
        dots.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    (F.col("dq").cast("double") / F.col("cnorm")).alias("s"),
                    (-F.col("cid")).alias("negid"),
                )
            ).alias("b")
        )
        .select("vec_id", (-F.col("b.negid")).cast("int").alias("cid"))
    )


def _lloyd_refine(
    spark: SparkSession,
    eq: DataFrame,
    cents: list[tuple[int, list[float]]],
    iters: int,
) -> list[tuple[int, list[float]]]:
    """Distributed Lloyd refinement of the IVF coarse quantizer over
    the checkpointed micro-unit cell relation ``eq``: per iteration,
    the nearest-centroid assignment is the exploded-join argmax
    (``_ivf_assign_join`` — codegen'd hash aggregates, zero
    interpreted HOFs), then ONE hash aggregation per (cluster, dim)
    computes the new means — summed in integer MICRO-UNITS (BIGINT)
    like ``embedding_label_centroids``, so the result is
    bit-deterministic under any partitioning (a double sum would vary
    with partition order and break the determinism pin).  The mean
    itself is the INTEGER half-up division ``(2·Σq + n) // (2n)`` over
    the shifted-positive micro units (the ``ml_kmeans_lloyd`` update
    device, r15) — no float mean anywhere, so the DuckDB oracle
    replays the whole refinement in exact BIGINT arithmetic and the
    refined float centroid is just ``cq / 10⁶`` (losslessly
    re-quantized by ``_ivf_assign_join``'s ``_py_mc``).  Only k·d
    cells ever reach the driver per iteration — the same bounded
    driver-side-literal pattern as ``sort_global``'s quantile
    boundaries.  Empty clusters keep their previous centroid (standard
    Lloyd convention)."""
    d = 1 + (
        max(dim for _, cv in cents for dim in range(len(cv))) if cents else -1
    )
    for _ in range(iters):
        best = _ivf_assign_join(spark, eq, cents)
        upd = (
            eq.join(best, "vec_id")
            .groupBy("cid", "dim")
            .agg(
                F.sum("xq").alias("s_micro"),
                F.count("*").alias("n"),
            )
            .collect()  # bounded: k·d cells (16×64), never the data
        )
        acc: dict[int, dict[int, float]] = {}
        for r in upd:
            # integer half-up mean over the shifted-positive micro
            # units — exact BIGINT in, exact BIGINT out, replayed
            # verbatim by the SQL oracle's `//` on the same operands
            s, n = int(r.s_micro), int(r.n)
            cq = (2 * (s + n * _IVF_SHIFT) + n) // (2 * n) - _IVF_SHIFT
            acc.setdefault(int(r.cid), {})[int(r.dim)] = cq / 1_000_000.0
        cents = [
            (cid, [acc[cid].get(i, 0.0) for i in range(d)])
            if cid in acc
            else (cid, cv)
            for cid, cv in cents
        ]
    return cents


def _ivfk_assign_sql(cents: str, asg: str) -> str:
    """One oracle Lloyd ASSIGNMENT step — the SQL twin of
    ``_ivf_assign_join``: dq = Σ xq·cq is an exact BIGINT dot (≤ d·10¹²
    ≪ 2⁵³, so its DOUBLE cast is exact), cnorm = IEEE sqrt of the exact
    BIGINT Σcq² (``or 1.0`` zero guard), and the nearest-centroid pick
    is the (score DESC, cid) row_number — both engines compute the
    identical doubles from identical integers, so the argmax replays
    bit-for-bit."""
    return f"""{asg} AS (
      SELECT vec_id, cid FROM (
        SELECT d.vec_id, d.cid,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY CAST(d.dq AS DOUBLE) / n.cnorm DESC, d.cid) AS rn
        FROM (SELECT e.vec_id, c.cid,
                     CAST(sum(e.xq * c.cq) AS BIGINT) AS dq
              FROM E e JOIN {cents} c ON c.dim = e.dim
              GROUP BY e.vec_id, c.cid) d
        JOIN (SELECT cid,
                     CASE WHEN sum(cq * cq) = 0 THEN 1.0
                          ELSE sqrt(CAST(sum(cq * cq) AS DOUBLE)) END AS cnorm
              FROM {cents} GROUP BY cid) n ON n.cid = d.cid
      ) WHERE rn = 1
    )"""


def _ivfk_update_sql(prev: str, asg: str, new: str) -> str:
    """One oracle Lloyd UPDATE step — the SQL twin of
    ``_lloyd_refine``'s integer mean: half-up division over the
    shifted-positive micro units (``//`` truncation == floor because
    every operand is positive), empty clusters COALESCE back to the
    previous centroid."""
    return f"""{new} AS (
      SELECT p.cid, p.dim, COALESCE(u.cq, p.cq) AS cq
      FROM {prev} p LEFT JOIN (
        SELECT a.cid, e.dim,
               CAST((2 * sum(e.xq + {_IVF_SHIFT}) + count(*))
                    // (2 * count(*)) AS BIGINT) - {_IVF_SHIFT} AS cq
        FROM E e JOIN {asg} a ON a.vec_id = e.vec_id
        GROUP BY a.cid, e.dim) u
      ON u.cid = p.cid AND u.dim = p.dim
    )"""


#: the k-means IVF oracle: the full 2-iteration integer Lloyd
#: refinement (seed → assign → mean → assign → mean), the final
#: assignment, the probe's nprobe pick (same integer-cosine argmax —
#: the probe's own norm is rank-constant so dq/cnorm suffices), then
#: the exact-cosine re-rank tail shared with ``_IVF_ORACLE``
_IVF_KMEANS_ORACLE = f"""
    WITH E AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) AS dim,
             CAST(round(1000000 * CAST(unnest(embedding) AS DOUBLE))
                  AS BIGINT) AS xq
      FROM embeddings
    ),
    C0 AS (
      SELECT DISTINCT vec_id AS cid, dim, xq AS cq
      FROM E WHERE vec_id < {IVF_CENTROIDS}
    ),
    {_ivfk_assign_sql('C0', 'A1')},
    {_ivfk_update_sql('C0', 'A1', 'C1')},
    {_ivfk_assign_sql('C1', 'A2')},
    {_ivfk_update_sql('C1', 'A2', 'C2')},
    {_ivfk_assign_sql('C2', 'A3')},
    probe AS (
      SELECT CAST(embedding AS DOUBLE[]) AS pv FROM embeddings
      WHERE vec_id = {PROBE_ID}
    ),
    pc AS (
      SELECT cid FROM (
        SELECT d.cid,
               row_number() OVER (
                 ORDER BY CAST(d.dq AS DOUBLE) / n.cnorm DESC, d.cid) AS rn
        FROM (SELECT c.cid, CAST(sum(e.xq * c.cq) AS BIGINT) AS dq
              -- DISTINCT: on a physically row-duplicated corpus
              -- (replication fixtures) the probe's E rows repeat and
              -- would scale dq by the replication factor, while the
              -- Spark side ranks from the single deduped probe row —
              -- uniform scaling preserves order except at ulp-level
              -- ties, so rank from identical unscaled integers
              -- (ADVICE r15)
              FROM (SELECT DISTINCT dim, xq FROM E
                    WHERE vec_id = {PROBE_ID}) e
              JOIN C2 c ON c.dim = e.dim
              GROUP BY c.cid) d
        JOIN (SELECT cid,
                     CASE WHEN sum(cq * cq) = 0 THEN 1.0
                          ELSE sqrt(CAST(sum(cq * cq) AS DOUBLE)) END AS cnorm
              FROM C2 GROUP BY cid) n ON n.cid = d.cid
      ) WHERE rn <= {IVF_NPROBE}
    ),
    cand AS (
      SELECT e.vec_id, e.label,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) AS c
      FROM embeddings e
      JOIN A3 a ON a.vec_id = e.vec_id
      CROSS JOIN probe p
      WHERE a.cid IN (SELECT cid FROM pc) AND e.vec_id <> {PROBE_ID}
    )
    SELECT vec_id, label, round(c, 3) + 0 AS cosine,
           CAST(row_number() OVER (
             ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id)
             AS BIGINT) AS rnk
    FROM cand
    ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id
    LIMIT {TOP_K}
    """


@query("sim_search_ivf_kmeans", oracle=_IVF_KMEANS_ORACLE)
def sim_search_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a K-MEANS-refined coarse quantizer — the path
    ``sim_search_ivf``'s docstring documents as what production vector
    stores do (FAISS IVF training): the same 16 deterministic seed
    vectors, improved by ``IVF_KMEANS_ITERS`` distributed Lloyd
    iterations before the lists are built.  Better-centered lists mean
    the fixed nprobe recovers more true neighbors at the same scan
    fraction — recall is the thing k-means buys, and the test pins it
    alongside exactness of the surviving scores.

    Train and assign both run on the ``ml_kmeans_lloyd`` exploded-join
    plan (one checkpointed (vec_id, dim, xq) micro-unit relation reused
    by every job; centroid tables broadcast at k·d rows; BIGINT dot
    products in codegen'd hash aggregates) — NOT a k-cosine HOF
    expression per row: the first cut used the literal-argmax form and
    the 5× harness measured it LINEAR in rows (interpreted
    zip_with/aggregate lambdas at ~0.6 ms/row dominated three jobs).
    At 100 TB this is the classic train-once/assign-everywhere split:
    training shuffles k·d cells per iteration, assignment is one join
    of the cell relation against a broadcast table, and only the
    nprobe-pruned candidates pay the exact-cosine scoring.

    ORACLE (r15 — VERDICT r14 #3): the whole refinement is now
    exact-integer micro-unit arithmetic (quantized seeds, BIGINT dots,
    integer half-up means — see ``_lloyd_refine``), so the DuckDB
    oracle replays seed → assign → mean → assign → mean → final assign
    bit-for-bit as five unrolled CTEs (``ml_kmeans_lloyd``'s device),
    then the probe's nprobe pick and the exact-cosine re-rank tail
    shared with ``_IVF_ORACLE``.  Reference heritage: none (SURVEY §2
    charter extension, similarity family)."""
    import math

    ensure_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    # truncate lineage once; every Lloyd job + the final assignment
    # reuses this bounded-width cell relation (|rows|·d cells)
    eq = _explode_micro(emb).localCheckpoint(eager=True)
    seed_rows = (
        emb.where(F.col("vec_id") < IVF_CENTROIDS)
        .select("vec_id", "v")
        .collect()
    )
    seeds = _dedupe_seed_rows(seed_rows)
    if not seeds:
        raise ValueError(
            f"IVF index build: no centroid seed vectors (vec_id < "
            f"{IVF_CENTROIDS}) in {sf_dir!r} — cannot quantize an empty corpus"
        )
    probe_rows = emb.where(F.col("vec_id") == PROBE_ID).collect()
    if not probe_rows:
        raise ValueError(
            f"IVF probe: no row with vec_id == {PROBE_ID} in {sf_dir!r}"
        )
    cents = _lloyd_refine(spark, eq, seeds, IVF_KMEANS_ITERS)
    probe_v = [float(x) for x in probe_rows[0].v]
    # nprobe pick replayed in the oracle's integer space: quantized
    # centroid dot over the quantized probe / centroid norm (the
    # probe's own norm is rank-constant and omitted) — exact-int
    # numerators, IEEE sqrt/divide, identical doubles in both engines
    pq = [_py_mc(x) for x in probe_v]

    def _micro_rank(cv: list[float]) -> float:
        cq = [_py_mc(x) for x in cv]
        cn2 = sum(q * q for q in cq)
        dot = sum(p * q for p, q in zip(pq, cq))
        return dot / (math.sqrt(cn2) if cn2 else 1.0)

    probe_cids = [
        cid
        for cid, cv in sorted(
            cents, key=lambda t: (-_micro_rank(t[1]), t[0])
        )[:IVF_NPROBE]
    ]

    assigned = _ivf_assign_join(spark, eq, cents)
    cand = emb.join(assigned, "vec_id").where(
        F.col("cid").isin(*probe_cids) & (F.col("vec_id") != PROBE_ID)
    )
    return _ivf_score_topk(cand, probe_v)


def _probe_bucket_set(pbucket: Column) -> list[Column]:
    """The Hamming-1 probe bucket set — own bucket + one id per flipped
    hyperplane bit; shared by the 1-row-broadcast multiprobe
    (``_lsh_topk``) and the batched explode form."""
    return [pbucket, *[pbucket.bitwiseXOR(F.lit(1 << i)) for i in range(LSH_BITS)]]


def _lsh_batch_topk(
    spark: SparkSession, sf_dir: str, multiprobe: bool
) -> DataFrame:
    """Shared batched-LSH builder (review r8: the two batch variants
    were verbatim copies differing only in the probe-side bucket
    expression).  Candidates come from a pure EQUI-JOIN on the bucket
    id; ``multiprobe`` explodes each probe into its Hamming-1 bucket
    set (bits+1 probe rows — probe-side fan-out only, same join)."""
    ensure_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("v")
    ).withColumn("bucket", lsh_signature("v"))
    pbucket = F.col("bucket")
    probe_bucket = (
        F.explode(F.array(*_probe_bucket_set(pbucket)))
        if multiprobe
        else pbucket
    )
    probes = emb.where(F.col("vec_id") % KNN_PROBE_MOD == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        probe_bucket.alias("pbucket"),
        _norm(F.col("v")).alias("npv"),
    )
    # corpus-side norm hoisted per vector (bit-identical — see
    # sim_search_knn_join's r14 note)
    corpus = emb.where(F.col("vec_id") % KNN_PROBE_MOD != 0).withColumn(
        "nv", _norm(F.col("v"))
    )
    cand = (
        corpus.join(probes, F.col("bucket") == F.col("pbucket"))
        .withColumn(
            "c", _dot(F.col("v"), F.col("pv")) / (F.col("nv") * F.col("npv"))
        )
    )
    # micro-quantized rank (see _lsh_topk's r14 note)
    w = Window.partitionBy("probe_id").orderBy(
        F.round(F.lit(1000000) * F.col("c")).cast("bigint").desc(),
        F.col("vec_id"),
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= KNN_K)
        .select(
            "probe_id",
            "vec_id",
            "label",
            (F.round("c", 3) + F.lit(0.0)).alias("cosine"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


_LSH_BATCH_ORACLE_BODY = f"""
    probes AS (
      SELECT e.vec_id AS probe_id, CAST(e.embedding AS DOUBLE[]) AS pv,
             b.bucket AS pbucket
      FROM embeddings e JOIN bucket b ON b.vec_id = e.vec_id
      WHERE e.vec_id % {KNN_PROBE_MOD} = 0
    ),
    pexp AS ({{pexp}}),
    cand AS (
      SELECT p.probe_id, e.vec_id, e.label,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) AS c
      FROM embeddings e
      JOIN bucket b ON b.vec_id = e.vec_id
      JOIN pexp p ON b.bucket = p.pbucket
      WHERE e.vec_id % {KNN_PROBE_MOD} <> 0
    )
    SELECT probe_id, vec_id, label, round(c, 3) + 0 AS cosine,
           CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (
            PARTITION BY probe_id
            ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id) AS rnk
          FROM cand)
    WHERE rnk <= {KNN_K}
    """


@query(
    "sim_search_lsh_batch",
    oracle="""
    WITH {cte},{body}
    """.format(
        cte=LSH_BUCKET_CTE,
        body=_LSH_BATCH_ORACLE_BODY.format(
            pexp="SELECT probe_id, pv, pbucket FROM probes"
        ),
    ),
)
def sim_search_lsh_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED LSH ANN as a pure EQUI-JOIN — the scale path
    ``sim_search_lsh``'s docstring documents for many probes: both
    sides carry the same hyperplane signature, candidates come from a
    shuffle equi-join ON THE BUCKET ID, and the per-probe top-k is a
    WindowGroupLimit-pruned rank.  Unlike ``sim_search_knn_join``
    (broadcast probe set, exact, bounded to ~10k probes) this form has
    NO broadcast anywhere: probe count can grow with the corpus —
    each side shuffles once on the bucket key, candidate volume is
    ~|corpus|·|probes|/2^bits pairs instead of the full cross product,
    and the join parallelizes across buckets.  Recall is partial by
    design (single-bucket probing; the multi-probe variant's bucket
    array generalizes by exploding probe-side bucket ids).  Reference
    heritage: none (SURVEY §2 charter extension, similarity family)."""
    return _lsh_batch_topk(spark, sf_dir, multiprobe=False)


@query(
    "sim_search_lsh_batch_multiprobe",
    oracle="""
    WITH {cte},{body}
    """.format(
        cte=LSH_BUCKET_CTE,
        body=_LSH_BATCH_ORACLE_BODY.format(
            pexp="SELECT p.probe_id, p.pv, u.b AS pbucket FROM probes p, unnest([p.pbucket, xor(p.pbucket, 1), xor(p.pbucket, 2), xor(p.pbucket, 4), xor(p.pbucket, 8)]) AS u(b)"
        ),
    ),
)
def sim_search_lsh_batch_multiprobe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batched multi-probe LSH — the last cell of the ANN matrix
    ({single, multi-probe} × {1-row broadcast, batched equi-join}):
    each probe EXPLODES its Hamming-1 bucket set (own bucket + one id
    per flipped hyperplane bit) into ``bits + 1`` probe rows, and the
    candidate join stays a pure EQUI-JOIN on the bucket id — so the
    recall knob costs a constant (bits+1)× probe-side fan-out (probe
    rows, not corpus rows) and no plan change.  Duplicate (probe,
    candidate) pairs cannot arise: a candidate sits in exactly ONE
    bucket, so it matches at most one of a probe's probe-rows.
    Per-probe top-k via the same WindowGroupLimit rank.  Reference
    heritage: none (SURVEY §2 charter extension, similarity family)."""
    return _lsh_batch_topk(spark, sf_dir, multiprobe=True)


#: product-quantization geometry: 8 subspaces × 16 codes = 8 bytes per
#: vector (vs 256 B of float32 at d=64 — 32× compression); re-rank pool
PQ_M = 8
PQ_K = 16
PQ_RERANK = 4 * TOP_K


def _ivfpq_oracle(metric: str) -> str:
    """Shared IVF-PQ oracle (r15 — the VERDICT r14 #3 stretch): the
    whole PQ pipeline is integer micro-unit arithmetic (quantized
    codebooks, BIGINT subspace L2² encode, BIGINT ADC lookup sums), so
    DuckDB replays codebook build → encode argmin → ADC pool →
    exact-metric re-rank bit-for-bit.  The coarse gate reuses
    ``_IVF_ORACLE``'s asg/pc device verbatim; only the ADC ranking key,
    the exact re-rank functional, and the sort direction vary by
    ``metric``.  The subspace geometry (m = (dim-1)//sub,
    i = (dim-1)%sub) is derived from the probe's own dimensionality:
    sub = d / PQ_M with d read off the probe vector via len()."""
    if metric == "cosine":
        adc_key = (
            "CAST(adot AS DOUBLE) / (CASE WHEN ansq = 0 THEN 1.0 "
            "ELSE sqrt(CAST(ansq AS DOUBLE)) END) DESC"
        )
        exact = "list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv)"
        col, rankdir = "cosine", "DESC"
    elif metric == "dot":
        adc_key = "adot DESC"
        exact = "list_dot_product(CAST(e.embedding AS DOUBLE[]), p.pv)"
        col, rankdir = "dot", "DESC"
    else:  # l2
        adc_key = "pn.pnq2 - 2 * adot + ansq ASC"
        exact = "list_distance(CAST(e.embedding AS DOUBLE[]), p.pv)"
        col, rankdir = "l2_dist", "ASC"
    pn_join = ", PN pn" if metric == "l2" else ""
    return f"""
    WITH E AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) AS dim,
             CAST(round(1000000 * CAST(unnest(embedding) AS DOUBLE))
                  AS BIGINT) AS xq
      FROM embeddings
    ),
    DGEOM AS (
      SELECT len(embedding) // {PQ_M} AS sub FROM embeddings
      WHERE vec_id = {PROBE_ID}
    ),
    cents AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id < {IVF_CENTROIDS}
    ),
    probe AS (
      SELECT CAST(embedding AS DOUBLE[]) AS pv FROM embeddings
      WHERE vec_id = {PROBE_ID}
    ),
    ac AS (
      SELECT e.vec_id, c.cid,
             CAST(round(1000000 * list_cosine_similarity(
               CAST(e.embedding AS DOUBLE[]), c.cv)) AS BIGINT) AS mc
      FROM embeddings e CROSS JOIN cents c
    ),
    asg AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY mc DESC, cid) AS rn
        FROM ac) WHERE rn = 1
    ),
    pc AS (
      SELECT cid FROM (
        SELECT c.cid,
               row_number() OVER (
                 ORDER BY CAST(round(1000000 * list_cosine_similarity(
                   c.cv, p.pv)) AS BIGINT) DESC, c.cid) AS rn
        FROM cents c CROSS JOIN probe p) WHERE rn <= {IVF_NPROBE}
    ),
    seeds AS (
      SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1
                          AS BIGINT) AS k
      FROM (SELECT DISTINCT vec_id FROM embeddings
            WHERE vec_id >= {IVF_CENTROIDS}
              AND vec_id < {IVF_CENTROIDS + PQ_K})
    ),
    NSEED AS (SELECT count(*) AS n FROM seeds),
    -- m < PQ_M clamp (ADVICE r15): when d is not a multiple of PQ_M
    -- the Spark
    -- encoder's F.slice covers only the first PQ_M*sub dims; without
    -- the clamp the trailing dims would fold into an out-of-range
    -- m = PQ_M subspace here and the two sides would compute
    -- different ADC pools
    CB AS (
      SELECT s.k, (e.dim - 1) // g.sub AS m, (e.dim - 1) % g.sub AS i,
             e.xq AS cq
      FROM E e JOIN seeds s ON s.vec_id = e.vec_id CROSS JOIN DGEOM g
      WHERE (e.dim - 1) // g.sub < {PQ_M}
    ),
    PE AS (
      SELECT (dim - 1) // g.sub AS m, (dim - 1) % g.sub AS i, xq
      FROM E CROSS JOIN DGEOM g
      WHERE vec_id = {PROBE_ID} AND (dim - 1) // g.sub < {PQ_M}
    ),
    LUT AS (
      SELECT cb.m, cb.k,
             CAST(sum(p.xq * cb.cq) AS BIGINT) AS ldot,
             CAST(sum(cb.cq * cb.cq) AS BIGINT) AS lnsq
      FROM CB cb JOIN PE p ON p.m = cb.m AND p.i = cb.i
      GROUP BY cb.m, cb.k
    ),
    PN AS (SELECT CAST(sum(xq * xq) AS BIGINT) AS pnq2 FROM PE),
    CANDV AS (
      SELECT e.vec_id, (e.dim - 1) // g.sub AS m,
             (e.dim - 1) % g.sub AS i, e.xq
      FROM E e JOIN asg a ON a.vec_id = e.vec_id CROSS JOIN DGEOM g
      WHERE a.cid IN (SELECT cid FROM pc) AND e.vec_id <> {PROBE_ID}
        AND (e.dim - 1) // g.sub < {PQ_M}
    ),
    DIST AS (
      SELECT cv.vec_id, cv.m, cb.k,
             CAST(sum((cv.xq - cb.cq) * (cv.xq - cb.cq)) AS BIGINT) AS d2
      FROM CANDV cv JOIN CB cb ON cb.m = cv.m AND cb.i = cv.i
      GROUP BY cv.vec_id, cv.m, cb.k
    ),
    CODE AS (
      SELECT vec_id, m, k FROM (
        SELECT vec_id, m, k,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2, k) AS rn
        FROM DIST) WHERE rn = 1
    ),
    ADC AS (
      SELECT c.vec_id,
             CAST(sum(l.ldot) AS BIGINT) AS adot,
             CAST(sum(l.lnsq) AS BIGINT) AS ansq
      FROM CODE c JOIN LUT l ON l.m = c.m AND l.k = c.k
      GROUP BY c.vec_id
    ),
    POOL AS (
      SELECT vec_id FROM ADC{pn_join}
      ORDER BY {adc_key}, vec_id LIMIT {PQ_RERANK}
    ),
    -- degrade mirror (ADVICE r15): with fewer than PQ_K codebook
    -- seeds the Spark engine falls back to an EXACT full scan
    -- (_ivfpq_search's len(seeds) < PQ_K branch); gate on the same
    -- seed-count scalar so both sides pick the same pool
    cand AS (
      SELECT e.vec_id, e.label, {exact} AS c
      FROM embeddings e JOIN POOL po ON po.vec_id = e.vec_id
      CROSS JOIN probe p
      WHERE (SELECT n FROM NSEED) >= {PQ_K}
      UNION ALL
      SELECT e.vec_id, e.label, {exact} AS c
      FROM embeddings e CROSS JOIN probe p
      WHERE e.vec_id <> {PROBE_ID}
        AND (SELECT n FROM NSEED) < {PQ_K}
    )
    SELECT vec_id, label, round(c, 3) + 0 AS {col},
           CAST(row_number() OVER (
             ORDER BY CAST(round(1000000 * c) AS BIGINT) {rankdir}, vec_id)
             AS BIGINT) AS rnk
    FROM cand
    ORDER BY CAST(round(1000000 * c) AS BIGINT) {rankdir}, vec_id
    LIMIT {TOP_K}
    """


@query("sim_search_ivfpq", oracle=_ivfpq_oracle("cosine"))
def sim_search_ivfpq(
    spark: SparkSession, sf_dir: str, _seed: tuple | None = None
) -> DataFrame:
    """IVF-PQ ANN — the memory layout actual 100 TB vector stores run
    (Jégou, Douze & Schmid, "Product Quantization for Nearest
    Neighbor Search", TPAMI'11; the FAISS ``IVFxx,PQ8`` default):

    1. COARSE index: the ``sim_search_ivf`` seed-centroid quantizer
       gates the scan to the probe's ``IVF_NPROBE`` inverted lists;
    2. PQ CODES (index build): each vector is split into ``PQ_M``
       orthogonal subspaces; per subspace its nearest of ``PQ_K``
       codebook entries (argmin L2², ties to the lowest code id) is
       stored — the vector becomes PQ_M uint8 codes, 8 bytes instead
       of 256.  Codebooks are PQ_K seed vectors sliced per subspace
       (the same deterministic seed-quantizer device as the coarse
       level; ``sim_search_ivf_kmeans`` shows the trained variant).
       Encoding is a pure map-side expression over driver-literal
       codebooks — ZERO shuffle, exactly like the cid assignment;
    3. ADC scan (probe time): the probe precomputes a PQ_M×PQ_K
       lookup table of subspace dot-products and codebook norms²
       driver-side; each candidate's approximate cosine is then PQ_M
       array lookups + adds — NO access to the original vector, which
       is why a PQ index fits in RAM when the vectors don't
       (reconstructed norm² = Σ_m ‖cb[m][code_m]‖², exact under
       subspace orthogonality);
    4. RE-RANK: the top ``PQ_RERANK`` by ADC score are re-scored with
       EXACT full-precision cosine, and the final top-k comes from
       that pool — returned scores are exact (the repo-wide ANN
       contract: recall is the only degrading axis).  At scale this
       step is a vec_id-keyed join fetching ``PQ_RERANK`` full
       vectors; here the test fixture rows still carry ``v`` so the
       plan re-reads no table.

    Determinism: codebooks and LUTs are fixed by vec_id-seeded
    construction; per-row folds run in array order (no cross-partition
    float accumulation); all argmin/top-N ties break on explicit
    integer ids.  Reference heritage: none (SURVEY §2 charter
    extension, similarity family)."""
    return _ivfpq_search(spark, sf_dir, metric="cosine", _seed=_seed)


@query("sim_search_ivfpq_dot", oracle=_ivfpq_oracle("dot"))
def sim_search_ivfpq_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ under the INNER-PRODUCT metric (VERDICT r9 item 3) — the
    ADC table a recommendation / MIPS retrieval stack runs (FAISS
    ``METRIC_INNER_PRODUCT``): the approximate score is the raw
    reconstructed dot ``Σ_m lut_dot[m][code_m]`` — no norm term at all,
    so the LUT is the only probe-side state — and the re-rank pool is
    re-scored with the EXACT full-precision dot product.  Same coarse
    index, same codes, same re-rank contract as ``sim_search_ivfpq``;
    only the ranking functional changes.  Note MIPS is NOT
    cosine-equivalent: a longer vector can beat a better-aligned one,
    which is exactly the semantics recommenders want (popularity-scaled
    embeddings).  Reference heritage: none (SURVEY §2 charter
    extension, similarity family)."""
    return _ivfpq_search(spark, sf_dir, metric="dot")


@query("sim_search_ivfpq_l2", oracle=_ivfpq_oracle("l2"))
def sim_search_ivfpq_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ under the EUCLIDEAN metric (VERDICT r9 item 3) — the
    FAISS default (``METRIC_L2``): ADC distance² decomposes exactly as
    ‖q‖² − 2·Σ_m lut_dot[m][code_m] + Σ_m ‖cb[m][code_m]‖² under
    subspace orthogonality (Jégou et al. TPAMI'11 eq. 13), so the same
    two LUTs the cosine variant builds serve L2 with a sign flip —
    candidates rank ASCENDING and the re-rank pool is re-scored with
    the exact full-precision distance.  Reference heritage: none
    (SURVEY §2 charter extension, similarity family)."""
    return _ivfpq_search(spark, sf_dir, metric="l2")


def _ivfpq_search(
    spark: SparkSession,
    sf_dir: str,
    metric: str,
    _seed: tuple | None = None,
) -> DataFrame:
    """Shared IVF-PQ engine: coarse-gate → PQ-encode → metric-specific
    ADC scan → exact re-rank (see ``sim_search_ivfpq`` for the full
    algorithm notes; ``metric`` ∈ cosine | dot | l2 selects the ADC
    functional, the pool sort direction, and the exact re-rank
    scorer).

    ORACLE (r15): codebooks, probe, and candidates are all quantized
    to integer micro-units (``_py_mc`` — half-away, the repo-wide
    rule), so the encode argmin (BIGINT subspace L2²), the ADC lookup
    sums (BIGINT), and the l2/dot pool keys are exact integers and the
    cosine pool key is a double derived from exact integers (IEEE
    sqrt/divide) — the whole index path replays bit-for-bit in DuckDB
    (``_ivfpq_oracle``); returned scores stay exact full-precision
    (the repo-wide ANN contract: recall is the only degrading axis)."""
    ensure_utc(spark)
    assigned, probe_v, probe_cids = _seed or _ivf_seed_lists(spark, sf_dir)
    d = len(probe_v)
    sub = d // PQ_M
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    pq_key = (
        spark.sparkContext.applicationId,
        sf_dir,
        _embeddings_fingerprint(sf_dir),
        "pq_seeds",
    )
    seeds = _IVF_SEED_MEMO.get(pq_key)
    if seeds is None:
        _evict_stale_seeds(pq_key)
        seed_rows = emb.where(
            (F.col("vec_id") >= IVF_CENTROIDS)
            & (F.col("vec_id") < IVF_CENTROIDS + PQ_K)
        ).collect()
        seeds = [v for _, v in _dedupe_seed_rows(seed_rows)]
        _IVF_SEED_MEMO[pq_key] = seeds
    if len(seeds) < PQ_K:  # tiny/empty corpus: degrade to exact scan
        return _ivf_score_topk(
            assigned.where(F.col("vec_id") != PROBE_ID), probe_v, metric
        )
    # integer micro-unit codebooks / probe (oracle-replayable)
    sq = [[_py_mc(x) for x in v] for v in seeds]
    pq = [_py_mc(x) for x in probe_v]
    cb = [
        [sq[k][m * sub : (m + 1) * sub] for k in range(PQ_K)]
        for m in range(PQ_M)
    ]
    lut_dot = [
        [
            sum(pq[m * sub + i] * cb[m][k][i] for i in range(sub))
            for k in range(PQ_K)
        ]
        for m in range(PQ_M)
    ]
    cb_nsq = [
        [sum(x * x for x in cb[m][k]) for k in range(PQ_K)]
        for m in range(PQ_M)
    ]
    pnq2 = sum(x * x for x in pq)

    # candidate micro vector once per row; subspace slices of it feed
    # every (m, k) integer L2² fold
    vq = F.transform(
        F.col("v"), lambda x: F.round(F.lit(1000000) * x).cast("long")
    )

    # the PQ_M·PQ_K subspace-L2² folds are built as ONE SQL string per
    # subspace and parsed JVM-side (r16): the Column-API form issued
    # ~10⁴ py4j calls and dominated the query at ~8 s of pure DRIVER
    # time per invocation (executor time: ~0.1 s); the parsed
    # expression tree is identical (same zip_with/aggregate/slice
    # nodes, same BIGINT literals)
    def _arr_l(vec: list[int]) -> str:
        return "array(" + ", ".join(f"{int(x)}L" for x in vec) + ")"

    def _code(m: int) -> Column:
        subv = f"slice(vq, {m * sub + 1}, {sub})"
        structs = ", ".join(
            "named_struct('d', aggregate(zip_with("
            f"{subv}, {_arr_l(cb[m][k])}, (x, y) -> (x - y) * (x - y)),"
            f" 0L, (acc, x) -> acc + x), 'k', {k})"
            for k in range(PQ_K)
        )
        return F.array_min(F.expr(f"array({structs})"))["k"]

    # cid-PARTITIONED ON-DISK PQ-CODE INDEX (r17 — VERDICT r16 #2/#3,
    # replacing the r16 in-plan localCheckpoint barriers): the encode
    # runs ONCE per dataset version over the FULL corpus and is
    # written as ``(vec_id, codes array<tinyint>)`` partitioned by
    # ``cid`` — the ``sim_search_ivf_sq8_partitioned`` physical layout
    # applied to PQ codes.  The index is METRIC-FREE (codes depend only
    # on the corpus and the PQ codebooks), so one build serves the
    # cosine, dot, and l2 variants.  The PROBE then (a) prunes the
    # non-probed (1 − nprobe/C) of the index at FILE LISTING time (a
    # partition-column predicate → ``PartitionFilters``), (b) reads
    # 1-byte-per-subspace code bytes, never the float vectors, and (c)
    # never evaluates the 16-centroid assignment argmax (the pre-r17
    # probe paid one argmax pass over the whole corpus inside the scan
    # filter).  Inside the BUILD, ``persist()`` is the
    # projection-collapse barrier between vq and the 128 subspace-L2²
    # folds (without it CollapseProject re-inlines the 64-element
    # micro-quantize into every fold — the r16 finding): unlike the
    # replaced eager localCheckpoints it KEEPS LINEAGE (an executor
    # loss recomputes instead of failing the query) and spills
    # MEMORY_AND_DISK; it is unpersisted as soon as the one-time write
    # completes or fails.  At 100 TB this is the real PQ index
    # lifecycle: build once per corpus version, refresh one inverted
    # list = overwrite one partition directory, probes pay nprobe/C of
    # the rows × PQ_M bytes each.
    def _build(d: str) -> None:
        staged = assigned.withColumn("vq", vq).persist()
        try:
            (
                staged.withColumn(
                    "codes",
                    F.array(*[_code(m) for m in range(PQ_M)]).cast(
                        "array<tinyint>"
                    ),
                )
                .select("vec_id", "codes", "cid")
                .write.mode("overwrite")
                .partitionBy("cid")
                .parquet(d)
            )
        finally:
            staged.unpersist()

    index_dir = index_store.index_dir(
        "ivf_pq_index", sf_dir, "embeddings", _build
    )
    coded = spark.read.parquet(index_dir).where(
        F.col("cid").isin(*probe_cids) & (F.col("vec_id") != PROBE_ID)
    )
    # LUT sums as single parsed strings too (same py4j-call argument);
    # exact BIGINT adds — dropping the redundant leading 0L start
    # value cannot change an integer sum
    adc_dot = F.expr(
        " + ".join(
            f"element_at({_arr_l(lut_dot[m])}, codes[{m}] + 1)"
            for m in range(PQ_M)
        )
    )
    adc_nsq = F.expr(
        " + ".join(
            f"element_at({_arr_l(cb_nsq[m])}, codes[{m}] + 1)"
            for m in range(PQ_M)
        )
    )
    if metric == "cosine":
        # probe norm is rank-constant and omitted; zero-norm guard
        # matches the oracle's CASE
        adc, asc = (
            adc_dot.cast("double")
            / F.when(adc_nsq == 0, F.lit(1.0)).otherwise(
                F.sqrt(adc_nsq.cast("double"))
            ),
            False,
        )
    elif metric == "dot":
        adc, asc = adc_dot, False
    elif metric == "l2":
        adc, asc = F.lit(pnq2) - 2 * adc_dot + adc_nsq, True
    else:  # pragma: no cover - caller bug
        raise ValueError(f"unknown IVF-PQ metric: {metric!r}")
    pool = (
        coded.withColumn("adc", adc)
        .orderBy(
            F.col("adc").asc() if asc else F.col("adc").desc(),
            F.col("vec_id"),
        )
        .limit(PQ_RERANK)
        .select("vec_id")
    )
    # exact re-rank reads the float vectors ONLY for the bounded pool:
    # broadcast-safe (LIMIT PQ_RERANK = 40 rows by construction), and
    # projecting just (vec_id, label, v) prunes the assignment argmax
    # column out of the scan — the probe never re-derives cid
    cand = assigned.select("vec_id", "label", "v").join(
        F.broadcast(pool), "vec_id"
    )
    return _ivf_score_topk(cand, probe_v, metric)


#: MMR diversified re-rank: greedy-select MMR_K results from the
#: MMR_POOL-deep relevance candidate pool with λ = 0.7 — expressed as
#: the integer score 7·rel − 3·maxsim over micro-cosine BIGINTs
#: (round(10⁶·cos)), so every argmax is integer-exact on both engines
MMR_POOL, MMR_K = 20, 5


def _mmr_oracle() -> str:
    """Unrolled-greedy MMR as SQL — the ``ml_kmeans_lloyd`` device:
    each greedy pick is one bounded argmax CTE over the pool, so the
    oracle runs the IDENTICAL ``MMR_K`` = 5 iterations the engine does."""
    ctes = [
        f"""probe AS (
      SELECT CAST(embedding AS DOUBLE[]) AS pv
      FROM embeddings WHERE vec_id = {PROBE_ID}
    ),
    pool AS (
      SELECT vec_id, ve, rel FROM (
        SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS ve,
               CAST(round(1000000 * list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]), p.pv)) AS BIGINT) AS rel
        FROM embeddings e, probe p WHERE e.vec_id <> {PROBE_ID})
      ORDER BY rel DESC, vec_id LIMIT {MMR_POOL}
    ),
    sims AS (
      SELECT a.vec_id AS cu, b.vec_id AS cv,
             CAST(round(1000000 * list_cosine_similarity(a.ve, b.ve))
                  AS BIGINT) AS s
      FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
    ),
    p1 AS (SELECT vec_id, rel, 7 * rel AS mmr FROM pool
           ORDER BY rel DESC, vec_id LIMIT 1),
    s1 AS (SELECT vec_id FROM p1)"""
    ]
    for t in range(2, MMR_K + 1):
        ctes.append(
            f"""r{t} AS (
      SELECT c.vec_id, c.rel, 7 * c.rel - 3 * max(s.s) AS mmr
      FROM pool c
      JOIN sims s ON s.cu = c.vec_id
      JOIN s{t - 1} sel ON sel.vec_id = s.cv
      WHERE c.vec_id NOT IN (SELECT vec_id FROM s{t - 1})
      GROUP BY c.vec_id, c.rel
    ),
    p{t} AS (SELECT vec_id, rel, mmr FROM r{t}
             ORDER BY mmr DESC, vec_id LIMIT 1),
    s{t} AS (SELECT vec_id FROM s{t - 1}
             UNION ALL SELECT vec_id FROM p{t})"""
        )
    finals = " UNION ALL ".join(
        f"SELECT {t} AS pick, vec_id, rel, mmr FROM p{t}"
        for t in range(1, MMR_K + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(pick AS BIGINT) AS pick, vec_id, rel,
           CAST(mmr AS BIGINT) AS mmr
    FROM ({finals})"""
    )


@query("sim_search_mmr_rerank", oracle=_mmr_oracle())
def sim_search_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR (maximal-marginal-relevance) diversified re-rank on top of
    ``sim_search_topk``'s exact retrieval — the standard RAG retrieval
    finisher (Carbonell & Goldstein 1998): from the top-20 (MMR_POOL)
    relevance pool, greedily pick 5 (MMR_K) results maximizing
    λ·relevance − (1−λ)·max-similarity-to-already-selected (λ = 0.7),
    so near-duplicate passages don't crowd out coverage.

    Exact-deterministic formulation: relevance and pairwise similarity
    quantize to MICRO-COSINE BIGINTs (round(10⁶·cos) — the integer-
    cents device), the MMR score is the integer 7·rel − 3·maxsim
    (λ = 0.7 scaled ×10), and each greedy step is a bounded argmax
    (min-vec_id tiebreak) over the ≤20-row pool — so the
    DuckDB oracle can unroll the IDENTICAL 5 iterations
    (the ``ml_kmeans_lloyd`` unrolled-oracle device).

    Scale: the corpus-sized work is exactly ``sim_search_topk``'s
    map-side scoring + TakeOrdered pool (one pass, no shuffle of the
    big side); everything after — the 20×20 pairwise
    sims and the 5 picks — is constant-bounded and
    localCheckpointed per step (1-row eager checkpoints: the
    iterative-loop lineage rule), independent of corpus size.
    Reference heritage: none (SURVEY §2 charter extension, similarity
    family)."""
    ensure_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    probe = emb.where(F.col("vec_id") == PROBE_ID).select(
        F.col("v").alias("pv")
    )
    mc = lambda c: F.round(F.lit(1000000) * c).cast("bigint")  # noqa: E731
    scored = (
        emb.where(F.col("vec_id") != PROBE_ID)
        # broadcast-safe: probe is a single query vector (1 row)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            "v",
            mc(
                _dot(F.col("v"), F.col("pv"))
                / (_norm(F.col("v")) * _norm(F.col("pv")))
            ).alias("rel"),
        )
    )
    # ONE corpus pass + ONE bounded collect (≤ MMR_POOL rows with
    # their vectors): the greedy itself is integer arithmetic over a
    # constant-bounded pool, so it runs DRIVER-SIDE — the
    # sort_global-boundary / IVF-probe driver-literal device (r16:
    # the previous unrolled in-plan greedy spent ~8 eager-checkpoint
    # jobs on ≤20-row frames; the corpus-sized work is identical).
    # Pairwise micro-cosines come from _py_mc(_py_cos(...)) — the
    # same sequential fold + half-away rounding as the Spark
    # expressions, and test_mmr_micro_cosine_boundary_margin pins
    # every pool cosine ≥ 1e-4 micro-units from a rounding boundary,
    # 10⁴× any fold-order deviation.  ONE disclosed divergence on
    # DEGENERATE input (ADVICE r16): a zero-norm pool vector scores
    # _py_cos = 0.0 here, while the replaced in-plan double division
    # produced NaN/NULL — micro-score 0 vs a NULL that sorted LAST
    # under rel DESC.  No fixture or replication fixture contains a
    # zero-norm vector (the boundary-margin pin would fail first), and
    # the oracle's list_cosine_similarity likewise NaNs, so the
    # divergence is unreachable in any checked configuration; on real
    # corpora a zero embedding is corrupt input either way.
    pool_rows = (
        scored.orderBy(F.col("rel").desc(), "vec_id")
        .limit(MMR_POOL)
        .collect()
    )
    pool_py = [
        (int(r.vec_id), int(r.rel), [float(x) for x in r.v])
        for r in pool_rows
    ]
    sims_py: dict[tuple[int, int], int] = {}
    for uid, _, uv in pool_py:
        for vid, _, vv in pool_py:
            if uid != vid:
                sims_py[(uid, vid)] = _py_mc(_py_cos(uv, vv))
    out_rows: list[tuple[int, int, int, int]] = []
    selected: list[int] = []
    for t in range(1, MMR_K + 1):
        best = None
        for vid, rel, _ in pool_py:
            if vid in selected:
                continue
            if t == 1:
                mmr_score = 7 * rel
            else:
                ms = max(sims_py[(vid, s)] for s in selected)
                mmr_score = 7 * rel - 3 * ms
            # argmax with min-vec_id tiebreak (mmr DESC, vec_id ASC)
            if best is None or (-mmr_score, vid) < (-best[2], best[0]):
                best = (vid, rel, mmr_score)
        if best is None:  # pool exhausted (tiny corpus)
            break
        out_rows.append((t, best[0], best[1], best[2]))
        selected.append(best[0])
    return spark.createDataFrame(
        out_rows, "pick BIGINT, vec_id BIGINT, rel BIGINT, mmr BIGINT"
    )


#: reciprocal-rank-fusion constant (Cormack/Clarke/Büttcher 2009's
#: k = 60) and the fused list length
RRF_K = 60
HYBRID_TOPK = 10


def _hybrid_rrf_oracle() -> str:
    from mapreduceplusplus_spark.llm.textstats import _bm25_sql

    return f"""
    WITH bm AS ({_bm25_sql()}),
    km AS ({_TOPK_ORACLE}),
    fused AS (
      SELECT coalesce(bm.doc_id, km.vec_id) AS doc_id,
             bm.rnk AS bm_rnk,
             km.rnk AS knn_rnk,
             CAST(coalesce(round(1000000.0 / ({RRF_K} + bm.rnk)), 0)
                + coalesce(round(1000000.0 / ({RRF_K} + km.rnk)), 0)
                  AS BIGINT) AS rrf_micro
      FROM bm FULL OUTER JOIN km ON km.vec_id = bm.doc_id
    )
    SELECT doc_id, bm_rnk, knn_rnk, rrf_micro,
           CAST(row_number() OVER (ORDER BY rrf_micro DESC, doc_id)
                AS BIGINT) AS rnk
    FROM fused
    ORDER BY rrf_micro DESC, doc_id
    LIMIT {HYBRID_TOPK}
    """


@query("sim_search_hybrid_rrf", oracle=_hybrid_rrf_oracle())
def sim_search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval fusion — reciprocal-rank fusion (RRF, k = 60)
    of the LEXICAL ranked list (``text_bm25_search``'s BM25 top-20
    over documents) and the SEMANTIC ranked list (``sim_search_topk``'s
    exact cosine top-10 over embeddings): the standard RAG retriever
    shape, sitting next to the ``sim_search_mmr_rerank`` finisher.
    ``embeddings.vec_id`` indexes the same corpus items as
    ``documents.doc_id`` (the fixture contract), so the two lists fuse
    on one id.

    Integer-exact device: each list contributes the QUANTIZED
    reciprocal ``round(10⁶/(60 + rank))`` (an id absent from a list
    contributes 0 — the standard RRF convention), so the fused score
    is a small-integer sum both engines compute identically: ranks are
    integers, the ~20 possible reciprocals hit no .5 rounding boundary
    (10⁶·2/(60+r) is never an odd integer for r ≤ 40), and ties break
    by doc_id.  The oracle COMPOSES the two existing oracle
    formulations verbatim (nested CTE bodies) and fuses with the same
    arithmetic — rank agreement is therefore inherited from the two
    already-green differentials, and the fusion adds only exact
    integer steps.

    Scale: both input lists are the outputs of scan-bound top-k plans
    (TakeOrderedAndProject — no global sort); the fusion itself is a
    ≤30-row FULL OUTER join.  At 100 TB the two retrieval passes
    dominate; fusion cost is constant.  Reference heritage: none
    (SURVEY §2 charter extension, similarity family)."""
    from mapreduceplusplus_spark.llm.textstats import text_bm25_search

    ensure_utc(spark)
    bm = text_bm25_search(spark, sf_dir).select(
        "doc_id", F.col("rnk").alias("bm_rnk")
    )
    km = sim_search_topk(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), F.col("rnk").alias("knn_rnk")
    )
    rec = lambda r: F.round(F.lit(1000000.0) / (RRF_K + r)).cast(  # noqa: E731
        "bigint"
    )
    fused = bm.join(km, "doc_id", "full_outer").select(
        "doc_id",
        "bm_rnk",
        "knn_rnk",
        (
            F.coalesce(rec(F.col("bm_rnk")), F.lit(0))
            + F.coalesce(rec(F.col("knn_rnk")), F.lit(0))
        ).alias("rrf_micro"),
    )
    w = Window.orderBy(F.col("rrf_micro").desc(), "doc_id")
    return (
        fused.orderBy(F.col("rrf_micro").desc(), "doc_id")
        .limit(HYBRID_TOPK)
        .select(
            "doc_id",
            "bm_rnk",
            "knn_rnk",
            "rrf_micro",
            F.row_number().over(w).cast("bigint").alias("rnk"),
        )
    )


#: triplet mining: hard negatives per anchor (nearest WRONG-label) and
#: the nearest positive (same label) for the margin readout
TRIPLET_NEG_K = 5


@query(
    "sim_search_triplet_mining",
    oracle=f"""
    WITH anchors AS (
      SELECT vec_id AS probe_id, label AS a_label,
             CAST(embedding AS DOUBLE[]) AS pv
      FROM embeddings WHERE vec_id % {KNN_PROBE_MOD} = 0
    ),
    corpus AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id % {KNN_PROBE_MOD} <> 0
    ),
    scored AS (
      SELECT a.probe_id, a.a_label, c.vec_id, c.label,
             list_cosine_similarity(c.v, a.pv) AS s
      FROM anchors a CROSS JOIN corpus c
    ),
    pos AS (
      SELECT probe_id, vec_id AS pos_vec_id, s AS pos_s FROM (
        SELECT probe_id, vec_id, s,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY CAST(round(1000000 * s) AS BIGINT)
                                             DESC, vec_id) AS rn
        FROM scored WHERE label = a_label
      ) WHERE rn = 1
    ),
    neg AS (
      SELECT probe_id, vec_id, label, s, rnk FROM (
        SELECT probe_id, vec_id, label, s,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY CAST(round(1000000 * s) AS BIGINT)
                                             DESC, vec_id) AS rnk
        FROM scored WHERE label <> a_label
      ) WHERE rnk <= {TRIPLET_NEG_K}
    )
    SELECT n.probe_id, p.pos_vec_id,
           n.vec_id AS neg_vec_id,
           CAST(n.label AS BIGINT) AS neg_label,
           CAST(n.rnk AS BIGINT) AS rnk,
           round(p.pos_s, 3) + 0 AS pos_cosine,
           round(n.s, 3) + 0 AS neg_cosine,
           round(p.pos_s - n.s, 3) + 0 AS margin
    FROM neg n JOIN pos p USING (probe_id)
    """,
)
def sim_search_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIPLET MINING for contrastive/metric training — per anchor the
    {TRIPLET_NEG_K} HARDEST negatives (highest-cosine vectors of a
    DIFFERENT label) paired with the nearest positive (same label) and
    the anchor→positive−negative margin: exactly the (anchor,
    positive, hard-negative) batches a triplet/InfoNCE fine-tune run
    mines from its corpus, and the readout that tells you whether the
    embedding space still separates labels (negative margins = label
    bleed).  Deterministic throughout: both rankings order by the
    integer micro-cosine ``round(10⁶·cos)`` (the ``mmr_rerank``
    device, ADVICE r13 — raw-double ranking left a latent
    cross-engine ULP tie-sensitivity between Spark's fold and
    DuckDB's ``list_cosine_similarity``) with vec_id tiebreak;
    REPORTED cosines stay raw, rounded to 3 decimals.

    Plan: one corpus scan against the broadcast anchor set; ONE window
    partitioned by (anchor, polarity) ranks positives and negatives in
    the same exchange (WindowGroupLimit keeps ≤ max(1, k) rows per key
    before it); the ≤ (1 + k)-rows-per-anchor survivor frame is
    materialized once and the triplet join reads both sides from it —
    the executed plan carries exactly one corpus FileScan (pinned by
    the r13 plan audit; the naive two-filtered-branches form executes
    the scan+broadcast subplan twice).  At 100 TB the
    anchor set is bounded by the broadcast contract (≤ ~10k — beyond
    that, LSH-bucket both sides, ``sim_search_lsh``'s layout); the
    corpus side stays a single scan.  Reference heritage: none
    (SURVEY §2 charter extension, similarity family)."""
    ensure_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") % KNN_PROBE_MOD == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("a_label"),
        _as_double("embedding").alias("pv"),
    ).withColumn("npv", _norm(F.col("pv")))
    # norms hoisted per VECTOR, not per pair (r14 — bit-identical, see
    # sim_search_knn_join): at sf1's genuine cardinality (500 anchors ×
    # 50k corpus) the per-pair 3-fold form measured 80.7 s; one fold
    # per pair brings the brute-force mining back to scan+dot cost
    corpus = emb.where(F.col("vec_id") % KNN_PROBE_MOD != 0).select(
        "vec_id", "label", _as_double("embedding").alias("v")
    ).withColumn("nv", _norm(F.col("v")))
    # broadcast-safe: anchors is the documented bounded probe set
    scored = (
        corpus.join(F.broadcast(anchors))
        .withColumn(
            "s",
            _dot(F.col("v"), F.col("pv")) / (F.col("nv") * F.col("npv")),
        )
        .withColumn("is_pos", F.col("label") == F.col("a_label"))
    )
    # ONE window over (probe, polarity) ranks positives and negatives
    # in the same exchange (two filtered branches would re-execute the
    # scan+broadcast subplan per branch — plan audit r13: 4 FileScans
    # → 2); the surviving ≤ (1 + K) rows per anchor are materialized
    # once and both sides of the triplet join read from that tiny frame
    w = Window.partitionBy("probe_id", "is_pos").orderBy(
        F.round(F.lit(1000000) * F.col("s")).cast("bigint").desc(),
        F.col("vec_id"),
    )
    ranked = (
        scored.withColumn("rnk", F.row_number().over(w))
        # UNIFORM rnk <= K filter (not `is_pos ? ==1 : <=K`): the
        # simple form is what Spark rewrites into WindowGroupLimit
        # (per-task k-row heaps BEFORE the exchange); the mixed
        # predicate blocks the rewrite and the full scored relation
        # would sort+materialize (measured 2x slower).  The ≤ K-1
        # surplus positive rows per anchor are dropped in the tiny
        # frame below.
        .where(F.col("rnk") <= TRIPLET_NEG_K)
        .select("probe_id", "vec_id", "label", "s", "is_pos", "rnk")
        .localCheckpoint(eager=True)
    )
    pos = ranked.where(F.col("is_pos") & (F.col("rnk") == 1)).select(
        "probe_id",
        F.col("vec_id").alias("pos_vec_id"),
        F.col("s").alias("pos_s"),
    )
    neg = ranked.where(~F.col("is_pos"))
    return neg.join(pos, "probe_id").select(
        "probe_id",
        "pos_vec_id",
        F.col("vec_id").alias("neg_vec_id"),
        F.col("label").cast("bigint").alias("neg_label"),
        F.col("rnk").cast("bigint").alias("rnk"),
        (F.round("pos_s", 3) + F.lit(0.0)).alias("pos_cosine"),
        (F.round("s", 3) + F.lit(0.0)).alias("neg_cosine"),
        (F.round(F.col("pos_s") - F.col("s"), 3) + F.lit(0.0)).alias("margin"),
    )


@query(
    "sim_search_triplet_mining_lsh",
    oracle="""
    WITH {cte},
    anchors AS (
      SELECT e.vec_id AS probe_id, e.label AS a_label,
             CAST(e.embedding AS DOUBLE[]) AS pv, b.bucket AS pbucket
      FROM embeddings e JOIN bucket b ON b.vec_id = e.vec_id
      WHERE e.vec_id % {mod} = 0
    ),
    pexp AS (
      SELECT a.probe_id, a.a_label, a.pv, u.b AS pbucket
      FROM anchors a,
           unnest([a.pbucket, xor(a.pbucket, 1), xor(a.pbucket, 2),
                   xor(a.pbucket, 4), xor(a.pbucket, 8)]) AS u(b)
    ),
    scored AS (
      SELECT p.probe_id, p.a_label, e.vec_id, e.label,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) AS s
      FROM embeddings e
      JOIN bucket b ON b.vec_id = e.vec_id
      JOIN pexp p ON b.bucket = p.pbucket
      WHERE e.vec_id % {mod} <> 0
    ),
    pos AS (
      SELECT probe_id, vec_id AS pos_vec_id, s AS pos_s FROM (
        SELECT probe_id, vec_id, s,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY CAST(round(1000000 * s) AS BIGINT)
                                             DESC, vec_id) AS rn
        FROM scored WHERE label = a_label
      ) WHERE rn = 1
    ),
    neg AS (
      SELECT probe_id, vec_id, label, s, rnk FROM (
        SELECT probe_id, vec_id, label, s,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY CAST(round(1000000 * s) AS BIGINT)
                                             DESC, vec_id) AS rnk
        FROM scored WHERE label <> a_label
      ) WHERE rnk <= {k}
    )
    SELECT n.probe_id, p.pos_vec_id,
           n.vec_id AS neg_vec_id,
           CAST(n.label AS BIGINT) AS neg_label,
           CAST(n.rnk AS BIGINT) AS rnk,
           round(p.pos_s, 3) + 0 AS pos_cosine,
           round(n.s, 3) + 0 AS neg_cosine,
           round(p.pos_s - n.s, 3) + 0 AS margin
    FROM neg n JOIN pos p USING (probe_id)
    """.format(cte=LSH_BUCKET_CTE, mod=KNN_PROBE_MOD, k=TRIPLET_NEG_K),
)
def sim_search_triplet_mining_lsh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ANN-GATED triplet mining (VERDICT r14 #4) — the scale path the
    exact form's docstring promises ("beyond ~10k anchors, LSH-bucket
    both sides"): candidate (anchor, corpus) pairs come from the
    ``sim_search_lsh_batch_multiprobe`` bucket EQUI-JOIN — each anchor
    explodes into its Hamming-1 bucket set (bits+1 probe rows) and
    meets only corpus vectors whose hyperplane signature falls in one
    of those buckets (~(bits+1)/2^bits of the corpus ≈ 31% at 4 bits,
    vs 100% for the exact form) — then the surviving pairs pay the
    IDENTICAL exact-cosine scoring, single (probe, polarity) window,
    and nearest-positive / hardest-negative join as the exact miner.

    ANN semantics: scores are exact for every emitted pair; recall is
    the degrading axis — a hard negative (or THE positive) hiding in a
    non-probed bucket is missed, and an anchor whose buckets hold no
    same-label vector emits NO triplets (inner positive join; the
    recall pin measures both against the exact form).  At 100 TB both
    sides shuffle ONCE on the bucket key (no broadcast dependence on
    the anchor count), candidate volume scales with bucket occupancy,
    and the mining cost tracks the engine's own ANN layout instead of
    |anchors|·|corpus|.  Reference heritage: none (SURVEY §2 charter
    extension, similarity family)."""
    ensure_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("v")
    ).withColumn("bucket", lsh_signature("v"))
    anchors = emb.where(F.col("vec_id") % KNN_PROBE_MOD == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("a_label"),
        F.col("v").alias("pv"),
        F.explode(F.array(*_probe_bucket_set(F.col("bucket")))).alias(
            "pbucket"
        ),
        _norm(F.col("v")).alias("npv"),
    )
    corpus = emb.where(F.col("vec_id") % KNN_PROBE_MOD != 0).withColumn(
        "nv", _norm(F.col("v"))
    )
    scored = (
        corpus.join(anchors, F.col("bucket") == F.col("pbucket"))
        .withColumn(
            "s", _dot(F.col("v"), F.col("pv")) / (F.col("nv") * F.col("npv"))
        )
        .withColumn("is_pos", F.col("label") == F.col("a_label"))
    )
    w = Window.partitionBy("probe_id", "is_pos").orderBy(
        F.round(F.lit(1000000) * F.col("s")).cast("bigint").desc(),
        F.col("vec_id"),
    )
    ranked = (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TRIPLET_NEG_K)
        .select("probe_id", "vec_id", "label", "s", "is_pos", "rnk")
        .localCheckpoint(eager=True)
    )
    pos = ranked.where(F.col("is_pos") & (F.col("rnk") == 1)).select(
        "probe_id",
        F.col("vec_id").alias("pos_vec_id"),
        F.col("s").alias("pos_s"),
    )
    neg = ranked.where(~F.col("is_pos"))
    return neg.join(pos, "probe_id").select(
        "probe_id",
        "pos_vec_id",
        F.col("vec_id").alias("neg_vec_id"),
        F.col("label").cast("bigint").alias("neg_label"),
        F.col("rnk").cast("bigint").alias("rnk"),
        (F.round("pos_s", 3) + F.lit(0.0)).alias("pos_cosine"),
        (F.round("s", 3) + F.lit(0.0)).alias("neg_cosine"),
        (F.round(F.col("pos_s") - F.col("s"), 3) + F.lit(0.0)).alias("margin"),
    )


#: binary-sketch ANN: Hamming pool depth before the exact re-rank —
#: the same 4·k pool contract as the IVF-PQ ADC pool
HAMMING_POOL = 4 * TOP_K


@query(
    "sim_search_hamming_rerank",
    oracle=f"""
    WITH probe AS (
      SELECT CAST(embedding AS DOUBLE[]) AS pv FROM embeddings
      WHERE vec_id = {PROBE_ID}
    ),
    pe AS (
      -- DISTINCT (the _IVF_KMEANS_ORACLE probe device, ADVICE r15):
      -- on a physically row-duplicated corpus the probe's exploded
      -- rows repeat and the joined hamming census would scale by the
      -- replication factor, while Spark reads one sketch row
      SELECT DISTINCT dim, x FROM (
        SELECT generate_subscripts(embedding, 1) AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings WHERE vec_id = {PROBE_ID})
    ),
    ve AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings WHERE vec_id <> {PROBE_ID}
    ),
    ham AS (
      SELECT e.vec_id,
             CAST(count(*) FILTER (WHERE (e.x > 0) <> (p.x > 0))
                  AS BIGINT) AS hamming
      FROM ve e JOIN pe p USING (dim)
      GROUP BY e.vec_id
    ),
    pool AS (
      SELECT vec_id, hamming FROM ham
      ORDER BY hamming, vec_id LIMIT {HAMMING_POOL}
    ),
    cand AS (
      SELECT e.vec_id, e.label, po.hamming,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) AS c
      FROM embeddings e JOIN pool po USING (vec_id)
      CROSS JOIN probe p
    )
    SELECT vec_id, label, hamming, round(c, 3) + 0 AS cosine,
           CAST(row_number() OVER (
             ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id)
             AS BIGINT) AS rnk
    FROM cand
    ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id
    LIMIT {TOP_K}
    """,
)
def sim_search_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY-SKETCH ANN — the 1-bit tier of the ANN ladder (exact →
    Hamming → LSH buckets → IVF lists → IVF-PQ codes): every vector
    quantizes to its SIGN BITS (x_d > 0, one bit per dimension — 64
    bits ≈ 8 B per vector vs 256 B of float32, the memory-minimal
    layout binary-embedding retrieval stacks scan when even PQ codes
    don't fit), candidates rank by Hamming distance to the probe's
    sign pattern, and the top-{HAMMING_POOL} pool is re-scored with
    EXACT full-precision cosine (the repo-wide ANN contract: recall is
    the only degrading axis, never score fidelity).

    EXECUTED PLAN (r16 — VERDICT r15 #5, the packed-BIGINT layout the
    r15 docstring promised): the sign bits are PACKED into BIGINT
    words — one per 64 dims — in a write-once persisted SKETCH STORE
    (``index_store`` protocol, same as the MinHash band index),
    and each probe scans ONLY the store: ``bit_count(word XOR
    probe_word)`` summed per row, TakeOrderedAndProject pool, then a
    {HAMMING_POOL}-row broadcast join back to the full-precision
    vectors for the exact re-rank.  At 100 TB that split is the whole
    point: the recurring per-probe scan touches ~8 B/vector (the
    sketch) instead of 256 B (the floats) — a ~30× I/O cut — and the
    float table is read only for the bounded re-rank pool; the store
    build is a one-time batch job.  ``_hamming_rerank_zipwith`` keeps
    the storeless logical form (one zip_with fold over the float
    scan); the pin suite asserts the two are row-identical and the
    bench compares their per-candidate scan cost.

    Determinism is structural: the sign test compares the SAME parquet
    double against zero in the packer, the zip_with form, and the
    DuckDB oracle (no arithmetic before the comparison); the Hamming
    count is an integer; ties break on vec_id; and the re-rank uses
    the shared micro-quantized rank.  Reference heritage: none (SURVEY
    §2 charter extension, similarity family)."""
    ensure_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    # bounded 1-row probe fetch (memoized — ``_probe_vector``): the
    # probe's packed words become plan literals (at 100 TB this is an
    # 8 B/word key lookup, not a scan)
    pv = _probe_vector(spark, sf_dir, emb)
    if pv is None:
        # no probe vector (empty corpus) — the storeless form returns
        # the correctly-shaped empty frame without building a store
        return _hamming_rerank_zipwith(spark, sf_dir)
    pwords = _pack_sign_words_py(pv)

    def _build(d: str) -> None:
        (
            emb.select(
                "vec_id", "label", _pack_sign_words(F.col("v")).alias("words")
            )
            # the sketch is ~8 B/vector — keep the file count small so
            # the per-probe scan lists O(1) files at fixture scale (at
            # 100 TB size the task count to healthy parquet splits)
            .coalesce(4)
            .write.mode("overwrite")
            .parquet(d)
        )

    sketch_dir = index_store.index_dir(
        "hamming_sketch", sf_dir, "embeddings", _build
    )
    sk = spark.read.schema(
        "vec_id BIGINT, label INT, words ARRAY<BIGINT>"
    ).parquet(sketch_dir)
    pw_lit = F.array(*[F.lit(w).cast("long") for w in pwords])
    ham = F.aggregate(
        F.zip_with(
            F.col("words"),
            pw_lit,
            lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pool = (
        sk.where(F.col("vec_id") != PROBE_ID)
        .select("vec_id", "label", ham.alias("hamming"))
        .orderBy(F.col("hamming").asc(), F.col("vec_id"))
        .limit(HAMMING_POOL)
    )
    # exact re-rank: fetch full-precision vectors for the bounded pool
    # (broadcast the ≤HAMMING_POOL-row pool into the float table)
    pv_lit = F.array(*[F.lit(x) for x in pv])
    scored = (
        emb.select("vec_id", "v")
        # broadcast-safe: pool is LIMIT HAMMING_POOL (<=40 rows by
        # construction) — a constant-bounded candidate set regardless
        # of corpus size
        .join(F.broadcast(pool), "vec_id")
        .withColumn("c", _dot(F.col("v"), pv_lit) / (_norm(F.col("v")) * _norm(pv_lit)))
    )
    mc = F.round(F.lit(1000000) * F.col("c")).cast("bigint")
    topk = scored.orderBy(mc.desc(), F.col("vec_id")).limit(TOP_K)
    w = Window.orderBy(mc.desc(), F.col("vec_id"))
    return topk.select(
        "vec_id",
        "label",
        F.col("hamming").cast("bigint").alias("hamming"),
        (F.round("c", 3) + F.lit(0.0)).alias("cosine"),
        F.row_number().over(w).cast("bigint").alias("rnk"),
    )


#: powers of two for the sign-bit packer — entry i is the i-th bit of
#: a 64-bit word as a SIGNED long (bit 63 is the long's sign bit; XOR
#: and bit_count operate on the bit pattern, so the sign is harmless)
_POW2_SIGNED = [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]


def _pack_sign_words(v: Column) -> Column:
    """``array<double>`` → ``array<bigint>``: one 64-bit word per 64
    dims, bit i of word w set iff ``v[w*64 + i] > 0`` — the identical
    sign test the zip_with form and the DuckDB oracle run (no
    arithmetic before the comparison, so packing cannot diverge)."""
    pow2 = F.array(*[F.lit(x).cast("long") for x in _POW2_SIGNED])
    nwords = F.ceil(F.size(v) / F.lit(64.0)).cast("int")
    packed = F.transform(
        F.sequence(F.lit(0), nwords - F.lit(1)),
        lambda w: F.aggregate(
            F.transform(
                F.slice(v, w * F.lit(64) + F.lit(1), 64),
                lambda x, i: F.when(
                    x > 0, F.element_at(pow2, i + F.lit(1))
                ).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, b: acc.bitwiseOR(b),
        ),
    )
    # guard zero-length vectors: sequence(0, -1) would DESCEND
    return F.when(F.size(v) > 0, packed).otherwise(
        F.array().cast("array<bigint>")
    )


def _pack_sign_words_py(v: list[float]) -> list[int]:
    """Driver-side twin of ``_pack_sign_words`` for the probe literal:
    same sign test on the same IEEE doubles, signed-64 word values."""
    words = []
    for w in range(0, len(v), 64):
        u = 0
        for i, x in enumerate(v[w : w + 64]):
            if x > 0:
                u |= 1 << i
        words.append(u - (1 << 64) if u >= (1 << 63) else u)
    return words


def _hamming_rerank_zipwith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORELESS logical form of ``sim_search_hamming_rerank`` —
    per-dimension sign disagreements via one zip_with fold over the
    float scan against a 1-row probe broadcast.  Kept (unregistered)
    as the row-identity pin target for the packed-BIGINT executed
    plan, as the empty-corpus fallback, and as the per-candidate cost
    baseline the bench compares the sketch scan against."""
    ensure_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    probe = emb.where(F.col("vec_id") == PROBE_ID).select(
        F.col("v").alias("pv")
    )
    ham = F.aggregate(
        F.zip_with(
            F.col("v"),
            F.col("pv"),
            lambda x, y: ((x > 0) != (y > 0)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pool = (
        emb.where(F.col("vec_id") != PROBE_ID)
        # broadcast-safe: probe is a single query vector (1 row)
        .crossJoin(F.broadcast(probe))
        .withColumn("hamming", ham)
        .orderBy(F.col("hamming").asc(), F.col("vec_id"))
        .limit(HAMMING_POOL)
    )
    scored = pool.withColumn(
        "c", _dot(F.col("v"), F.col("pv")) / (_norm(F.col("v")) * _norm(F.col("pv")))
    )
    mc = F.round(F.lit(1000000) * F.col("c")).cast("bigint")
    topk = scored.orderBy(mc.desc(), F.col("vec_id")).limit(TOP_K)
    w = Window.orderBy(mc.desc(), F.col("vec_id"))
    return topk.select(
        "vec_id",
        "label",
        F.col("hamming").cast("bigint").alias("hamming"),
        (F.round("c", 3) + F.lit(0.0)).alias("cosine"),
        F.row_number().over(w).cast("bigint").alias("rnk"),
    )


# ---------------------------------------------------------------------------
# SQ8 (int8 scalar quantization) tier — between the 1-bit sketch and PQ
# ---------------------------------------------------------------------------

#: exact-re-rank pool for the SQ8 tier (same sizing rule as HAMMING_POOL)
SQ8_POOL = 4 * TOP_K


def _sq8_scale() -> Column:
    """Per-vector SQ8 scale = max|x_d| over the ``v`` column — ONE
    definition for every SQ8 carrier (``sim_search_sq8_rerank``,
    ``sim_search_ivf_sq8``, ``sim_search_ivf_sq8_partitioned``); the
    ``embedding_quantize_int8`` device's scale rule."""
    return F.array_max(F.transform("v", lambda x: F.abs(x)))


def _sq8_codes(elem_type: str = "bigint") -> Column:
    """Int8 code array over (``v``, ``scale``) columns — half-up
    ``floor(x/scale·127 + 0.5)`` with the zero-scale guard, the shared
    quantizer of the SQ8 family.  ``elem_type`` picks the carrier
    width: ``bigint`` for in-plan arithmetic, ``tinyint`` for the
    1 B/dim persisted code index (values ∈ [-127, 127] by
    construction, so the narrow cast is lossless)."""
    return F.when(
        F.col("scale") == 0,
        F.transform("v", lambda x: F.lit(0).cast(elem_type)),
    ).otherwise(
        F.transform(
            "v",
            lambda x: F.floor(x / F.col("scale") * 127 + F.lit(0.5)).cast(
                elem_type
            ),
        )
    )


def _py_sq8(v: list[float]) -> tuple[float, list[int]]:
    """Pure-Python twin of (``_sq8_scale``, ``_sq8_codes``) — same
    IEEE-double expression tree ``(x/scale)·127 + 0.5`` then floor, so
    the codes agree bit-for-bit (the Hypothesis device pin's model,
    and the documented cross-engine contract the DuckDB oracles
    replay)."""
    import math

    scale = max((abs(float(x)) for x in v), default=0.0)
    if scale == 0:
        return 0.0, [0] * len(v)
    return scale, [
        int(math.floor(float(x) / scale * 127 + 0.5)) for x in v
    ]


@query(
    "sim_search_sq8_rerank",
    oracle=f"""
    WITH probe AS (
      SELECT CAST(embedding AS DOUBLE[]) AS pv
      FROM embeddings WHERE vec_id = {PROBE_ID}
    ),
    pe AS (
      -- DISTINCT (the _IVF_KMEANS_ORACLE probe device, ADVICE r15):
      -- duplicated probe rows would scale every candidate's ADC sum
      -- by the replication factor while Spark reads ONE probe row
      -- (limit 1) — rank from identical unscaled integers instead
      SELECT DISTINCT dim, pq FROM (
        SELECT generate_subscripts(embedding, 1) AS dim,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
                    AS BIGINT) AS pq
        FROM embeddings WHERE vec_id = {PROBE_ID})
    ),
    sc AS (
      SELECT vec_id,
             list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE)))) AS scale
      FROM embeddings WHERE vec_id <> {PROBE_ID}
    ),
    ve AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings WHERE vec_id <> {PROBE_ID}
    ),
    s AS (
      SELECT v.vec_id,
             CAST(sum(p.pq * CASE WHEN sc.scale = 0 THEN 0
                  ELSE CAST(floor(v.x / sc.scale * 127 + 0.5) AS BIGINT)
                  END) AS BIGINT) AS s
      FROM ve v JOIN pe p USING (dim) JOIN sc ON sc.vec_id = v.vec_id
      GROUP BY v.vec_id
    ),
    pool AS (
      SELECT s.vec_id, s.s, sc.scale
      FROM s JOIN sc USING (vec_id)
      ORDER BY CAST(s.s AS DOUBLE) * sc.scale DESC, vec_id
      LIMIT {SQ8_POOL}
    ),
    cand AS (
      SELECT e.vec_id, e.label, po.s, po.scale,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) AS c
      FROM embeddings e JOIN pool po USING (vec_id)
      CROSS JOIN probe p
    )
    SELECT vec_id, label,
           round(CAST(s AS DOUBLE) * scale / 127.0 / 1000000.0, 3) + 0 AS adc,
           round(c, 3) + 0 AS cosine,
           CAST(row_number() OVER (
             ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id)
             AS BIGINT) AS rnk
    FROM cand
    ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id
    LIMIT {TOP_K}
    """,
)
def sim_search_sq8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 ANN — the int8 SCALAR-QUANTIZATION tier of the ladder
    (exact → 1-bit Hamming → **SQ8** → LSH buckets → IVF lists →
    IVF-PQ codes), FAISS's ``IndexScalarQuantizer(QT_8bit)`` shape:
    every corpus vector stores ``scale = max|x_d|`` plus one int8 code
    per dimension (the ``embedding_quantize_int8`` device verbatim —
    same half-up ``floor(x/scale·127 + 0.5)``, same zero-scale guard),
    candidates rank by the ASYMMETRIC reconstructed dot (the float
    probe against quantized candidates: ``Σ pq_d·code_d · scale/127``
    with the probe in exact 1e-6 micro-units, so the ranking key is a
    single BIGINT·double product — bit-identical in both engines), and
    the top-{SQ8_POOL} pool is re-scored with EXACT full-precision
    cosine (the repo-wide ANN contract: recall is the only degrading
    axis, never score fidelity).

    Where it sits: 1 B/dim vs the floats' 4-8 B (4-8× less I/O per
    scanned candidate) with FAR higher fidelity than the 1-bit sketch
    (SQ8 keeps magnitudes; Hamming keeps only signs), and no codebook
    training or nprobe tuning like IVF-PQ — the standard middle rung
    when PQ's training pass isn't warranted.  At 100 TB the codes are
    a persisted column (written once by ``embedding_quantize_int8``'s
    projection, appended like any column) and the integer dot runs in
    SIMD on 1/4 the bytes; the registered plan computes codes in-scan
    — a projection — so its SEMANTICS are the stored-column plan's,
    same argument as ``_hamming_rerank_zipwith`` vs the packed store.

    Determinism is structural: probe micro-units and codes are exact
    integers from the shared ``+0.5``-then-``floor`` device, the ADC
    key is one IEEE multiply of exact operands, ties break on vec_id,
    and the re-rank uses the shared micro-quantized rank.  Reference
    heritage: none (SURVEY §2 charter extension, similarity family)."""
    import math

    ensure_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    # bounded 1-row probe fetch (memoized — ``_probe_vector``)
    pv = _probe_vector(spark, sf_dir, emb)
    out_schema = (
        "vec_id BIGINT, label INT, adc DOUBLE, cosine DOUBLE, rnk BIGINT"
    )
    if pv is None:
        return spark.createDataFrame([], out_schema)
    pq = [int(math.floor(x * 1000000.0 + 0.5)) for x in pv]
    pq_lit = F.array(*[F.lit(q).cast("bigint") for q in pq])
    pv_lit = F.array(*[F.lit(x) for x in pv])

    s = F.aggregate(
        F.zip_with(F.col("codes"), pq_lit, lambda c, p: c * p),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    pool = (
        emb.where(F.col("vec_id") != PROBE_ID)
        .withColumn("scale", _sq8_scale().cast("double"))
        .withColumn("codes", _sq8_codes())
        .withColumn("s", s)
        .orderBy(
            (F.col("s").cast("double") * F.col("scale")).desc(), "vec_id"
        )
        .limit(SQ8_POOL)
        .select("vec_id", "s", "scale")
    )
    scored = (
        emb.select("vec_id", "label", "v")
        # broadcast-safe: pool is LIMIT SQ8_POOL (<=40 rows by
        # construction) — constant-bounded regardless of corpus size
        .join(F.broadcast(pool), "vec_id")
        .withColumn(
            "c", _dot(F.col("v"), pv_lit) / (_norm(F.col("v")) * _norm(pv_lit))
        )
    )
    mc = F.round(F.lit(1000000) * F.col("c")).cast("bigint")
    topk = scored.orderBy(mc.desc(), "vec_id").limit(TOP_K)
    w = Window.orderBy(mc.desc(), F.col("vec_id"))
    return topk.select(
        "vec_id",
        "label",
        (
            F.round(
                F.col("s").cast("double")
                * F.col("scale")
                / F.lit(127.0)
                / F.lit(1000000.0),
                3,
            )
            + F.lit(0.0)
        ).alias("adc"),
        (F.round("c", 3) + F.lit(0.0)).alias("cosine"),
        F.row_number().over(w).cast("bigint").alias("rnk"),
    )


# ---------------------------------------------------------------------------
# Matryoshka funnel tier — adaptive-dimension retrieval (prefix → full)
# ---------------------------------------------------------------------------

#: coarse-stage prefix width (dims 1..16 of the 64-dim fixture — the
#: MRL granularity one rung below full width)
MRL_DIMS = 16
#: exact-re-rank pool for the funnel (same sizing rule as HAMMING_POOL)
MRL_POOL = 4 * TOP_K


@query(
    "sim_search_matryoshka_funnel",
    oracle=f"""
    WITH probe AS (
      SELECT CAST(embedding AS DOUBLE[]) AS pv
      FROM embeddings WHERE vec_id = {PROBE_ID}
    ),
    pool AS (
      SELECT e.vec_id,
             list_cosine_similarity(
               (CAST(e.embedding AS DOUBLE[]))[1:{MRL_DIMS}],
               p.pv[1:{MRL_DIMS}]) AS c16
      FROM embeddings e CROSS JOIN probe p
      WHERE e.vec_id <> {PROBE_ID}
      ORDER BY CAST(round(1000000 * c16) AS BIGINT) DESC, vec_id
      LIMIT {MRL_POOL}
    ),
    cand AS (
      SELECT e.vec_id, e.label, po.c16,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) AS c
      FROM embeddings e JOIN pool po USING (vec_id)
      CROSS JOIN probe p
    )
    SELECT vec_id, label,
           round(c16, 3) + 0 AS coarse_cosine,
           round(c, 3) + 0 AS cosine,
           CAST(row_number() OVER (
             ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id)
             AS BIGINT) AS rnk
    FROM cand
    ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id
    LIMIT {TOP_K}
    """,
)
def sim_search_matryoshka_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA FUNNEL ANN — adaptive-DIMENSION retrieval (Kusupati
    et al., *Matryoshka Representation Learning*, NeurIPS'22 §4.3
    "adaptive retrieval"): rank the whole corpus with only the FIRST
    {MRL_DIMS} dimensions of each embedding (MRL-trained prefixes are
    themselves valid low-dim embeddings), keep a {MRL_POOL}-row
    shortlist, and re-score it with EXACT full-width cosine (the
    repo-wide ANN contract: recall is the only degrading axis, never
    score fidelity).  This is the ladder's DIMENSION axis — orthogonal
    to the precision axis (1-bit Hamming / SQ8 / PQ shrink bits PER
    dim; the funnel shrinks the NUMBER of dims) — and the standard
    deployment shape for MRL embedding models.

    EXECUTED PLAN: the {MRL_DIMS}-dim prefixes live in a write-once
    persisted PREFIX STORE (``index_store`` protocol — atomic
    tmp+rename build, same lifecycle as the Hamming sketch store); each
    probe scans ONLY the store (coarse cosine against the probe's
    prefix literals, micro-quantized integer rank key, vec_id
    tiebreak → TakeOrderedAndProject heap), then the ≤{MRL_POOL}-row
    pool broadcast-joins back to the full-width floats for the exact
    re-rank.  At 100 TB the recurring per-probe scan reads
    {MRL_DIMS}/64 of the float bytes (4× less I/O; with float32
    prefixes, 8×) and the full-width table is touched only for the
    bounded pool — the same scan-vs-rerank split as the sketch tiers,
    but with NO quantization error in the coarse key, which is why the
    funnel's recall at equal pool size upper-bounds the 1-bit tier's.
    ``_mrl_funnel_slice`` keeps the storeless logical form (prefix
    sliced in-scan from the full table); the pin suite asserts the two
    are row-identical.

    Determinism is structural: the coarse key is the micro-quantized
    (1e-6) integer cosine over the SAME parquet doubles both engines
    slice, ties break on vec_id, and the re-rank uses the shared
    micro-quantized rank — the proven ``sim_search_topk`` cosine
    device applied to a prefix.  Reference heritage: none (SURVEY §2
    charter extension, similarity family)."""
    ensure_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    # bounded 1-row probe fetch (memoized — ``_probe_vector``)
    pv = _probe_vector(spark, sf_dir, emb)
    if pv is None:
        # no probe vector (empty corpus) — the storeless form returns
        # the correctly-shaped empty frame without building a store
        return _mrl_funnel_slice(spark, sf_dir)
    p16 = pv[:MRL_DIMS]

    def _build(d: str) -> None:
        (
            emb.select(
                "vec_id",
                "label",
                F.slice(F.col("v"), 1, MRL_DIMS).alias("prefix"),
            )
            # the prefix store is {MRL_DIMS}/64 of the float bytes —
            # keep the file count small at fixture scale (at 100 TB
            # size the task count to healthy parquet splits)
            .coalesce(4)
            .write.mode("overwrite")
            .parquet(d)
        )

    store_dir = index_store.index_dir(
        "mrl_prefix", sf_dir, "embeddings", _build
    )
    pre = spark.read.schema(
        "vec_id BIGINT, label INT, prefix ARRAY<DOUBLE>"
    ).parquet(store_dir)
    p16_lit = F.array(*[F.lit(x) for x in p16])
    c16 = _dot(F.col("prefix"), p16_lit) / (
        _norm(F.col("prefix")) * _norm(p16_lit)
    )
    mc16 = F.round(F.lit(1000000) * F.col("c16")).cast("bigint")
    pool = (
        pre.where(F.col("vec_id") != PROBE_ID)
        .withColumn("c16", c16)
        .orderBy(mc16.desc(), F.col("vec_id"))
        .limit(MRL_POOL)
        .select("vec_id", "c16")
    )
    pv_lit = F.array(*[F.lit(x) for x in pv])
    scored = (
        emb.select("vec_id", "label", "v")
        # broadcast-safe: pool is LIMIT MRL_POOL (<=40 rows by
        # construction) — constant-bounded regardless of corpus size
        .join(F.broadcast(pool), "vec_id")
        .withColumn(
            "c", _dot(F.col("v"), pv_lit) / (_norm(F.col("v")) * _norm(pv_lit))
        )
    )
    mc = F.round(F.lit(1000000) * F.col("c")).cast("bigint")
    topk = scored.orderBy(mc.desc(), F.col("vec_id")).limit(TOP_K)
    w = Window.orderBy(mc.desc(), F.col("vec_id"))
    return topk.select(
        "vec_id",
        "label",
        (F.round("c16", 3) + F.lit(0.0)).alias("coarse_cosine"),
        (F.round("c", 3) + F.lit(0.0)).alias("cosine"),
        F.row_number().over(w).cast("bigint").alias("rnk"),
    )


def _mrl_funnel_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORELESS logical form of ``sim_search_matryoshka_funnel``
    — the coarse prefix sliced in-scan from the full float table
    against a 1-row probe broadcast.  Kept (unregistered) as the
    row-identity pin target for the prefix-store executed plan, as the
    empty-corpus fallback, and as the per-candidate cost baseline the
    bench compares the store scan against."""
    ensure_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    probe = emb.where(F.col("vec_id") == PROBE_ID).select(
        F.col("v").alias("pv")
    )
    pre = F.slice(F.col("v"), 1, MRL_DIMS)
    ppre = F.slice(F.col("pv"), 1, MRL_DIMS)
    c16 = _dot(pre, ppre) / (_norm(pre) * _norm(ppre))
    mc16 = F.round(F.lit(1000000) * F.col("c16")).cast("bigint")
    pool = (
        emb.where(F.col("vec_id") != PROBE_ID)
        # broadcast-safe: probe is a single query vector (1 row)
        .crossJoin(F.broadcast(probe))
        .withColumn("c16", c16)
        .orderBy(mc16.desc(), F.col("vec_id"))
        .limit(MRL_POOL)
    )
    scored = pool.withColumn(
        "c",
        _dot(F.col("v"), F.col("pv"))
        / (_norm(F.col("v")) * _norm(F.col("pv"))),
    )
    mc = F.round(F.lit(1000000) * F.col("c")).cast("bigint")
    topk = scored.orderBy(mc.desc(), F.col("vec_id")).limit(TOP_K)
    w = Window.orderBy(mc.desc(), F.col("vec_id"))
    return topk.select(
        "vec_id",
        "label",
        (F.round("c16", 3) + F.lit(0.0)).alias("coarse_cosine"),
        (F.round("c", 3) + F.lit(0.0)).alias("cosine"),
        F.row_number().over(w).cast("bigint").alias("rnk"),
    )


# ---------------------------------------------------------------------------
# IVF + SQ8 composite tier — cell pruning × int8 codes (FAISS "IVFx,SQ8")
# ---------------------------------------------------------------------------

#: the IVF,SQ8 oracle: the seed-centroid IVF gate (cents → assignment
#: argmax → nprobe pick, verbatim from ``_IVF_ORACLE``) restricted to
#: the probed cells, then the SQ8 asymmetric-ADC pool + exact-cosine
#: re-rank tail (verbatim from ``sim_search_sq8_rerank``'s oracle) run
#: over ONLY those cells' vectors
_IVF_SQ8_ORACLE = f"""
    WITH cents AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id < {IVF_CENTROIDS}
    ),
    probe AS (
      SELECT CAST(embedding AS DOUBLE[]) AS pv FROM embeddings
      WHERE vec_id = {PROBE_ID}
    ),
    ac AS (
      SELECT e.vec_id, c.cid,
             CAST(round(1000000 * list_cosine_similarity(
               CAST(e.embedding AS DOUBLE[]), c.cv)) AS BIGINT) AS mc
      FROM embeddings e CROSS JOIN cents c
    ),
    asg AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY mc DESC, cid) AS rn
        FROM ac) WHERE rn = 1
    ),
    pc AS (
      SELECT cid FROM (
        SELECT c.cid,
               row_number() OVER (
                 ORDER BY CAST(round(1000000 * list_cosine_similarity(
                   c.cv, p.pv)) AS BIGINT) DESC, c.cid) AS rn
        FROM cents c CROSS JOIN probe p) WHERE rn <= {IVF_NPROBE}
    ),
    cells AS (
      SELECT vec_id FROM asg
      WHERE cid IN (SELECT cid FROM pc) AND vec_id <> {PROBE_ID}
    ),
    pe AS (
      -- DISTINCT: same duplicated-probe guard as the sq8 oracle
      SELECT DISTINCT dim, pq FROM (
        SELECT generate_subscripts(embedding, 1) AS dim,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
                    AS BIGINT) AS pq
        FROM embeddings WHERE vec_id = {PROBE_ID})
    ),
    sc AS (
      SELECT e.vec_id,
             list_max(list_transform(e.embedding,
                                     x -> abs(CAST(x AS DOUBLE)))) AS scale
      FROM embeddings e JOIN cells USING (vec_id)
    ),
    ve AS (
      SELECT e.vec_id, generate_subscripts(e.embedding, 1) AS dim,
             CAST(unnest(e.embedding) AS DOUBLE) AS x
      FROM embeddings e JOIN cells USING (vec_id)
    ),
    s AS (
      SELECT v.vec_id,
             CAST(sum(p.pq * CASE WHEN sc.scale = 0 THEN 0
                  ELSE CAST(floor(v.x / sc.scale * 127 + 0.5) AS BIGINT)
                  END) AS BIGINT) AS s
      FROM ve v JOIN pe p USING (dim) JOIN sc ON sc.vec_id = v.vec_id
      GROUP BY v.vec_id
    ),
    pool AS (
      SELECT s.vec_id, s.s, sc.scale
      FROM s JOIN sc USING (vec_id)
      ORDER BY CAST(s.s AS DOUBLE) * sc.scale DESC, vec_id
      LIMIT {SQ8_POOL}
    ),
    cand AS (
      SELECT e.vec_id, e.label, po.s, po.scale,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) AS c
      FROM embeddings e JOIN pool po USING (vec_id)
      CROSS JOIN probe p
    )
    SELECT vec_id, label,
           round(CAST(s AS DOUBLE) * scale / 127.0 / 1000000.0, 3) + 0 AS adc,
           round(c, 3) + 0 AS cosine,
           CAST(row_number() OVER (
             ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id)
             AS BIGINT) AS rnk
    FROM cand
    ORDER BY CAST(round(1000000 * c) AS BIGINT) DESC, vec_id
    LIMIT {TOP_K}
    """


@query("sim_search_ivf_sq8", oracle=_IVF_SQ8_ORACLE)
def sim_search_ivf_sq8(
    spark: SparkSession, sf_dir: str, _seed: tuple | None = None
) -> DataFrame:
    """IVF,SQ8 COMPOSITE ANN — the two pruning axes of the ladder
    multiplied, FAISS's ``index_factory("IVFx,SQ8")`` shape and the
    workhorse mid-tier of production vector stores: the seed-centroid
    IVF gate prunes ROWS (only the probe's ``IVF_NPROBE``/
    ``IVF_CENTROIDS`` cells are scanned — at 100 TB the lists are
    cid-partitioned parquet and Catalyst skips the rest at the I/O
    layer, the ``sim_search_ivf_partitioned`` device), and within the
    surviving cells the SQ8 codes prune BYTES (1 B/dim asymmetric
    reconstructed-dot ranking instead of 4-8 B floats — the
    ``sim_search_sq8_rerank`` device verbatim, exact-integer probe ×
    int8 codes, one BIGINT·double ranking key).  The bounded
    top-{SQ8_POOL} pool is re-scored with EXACT full-precision cosine
    (repo-wide ANN contract: recall is the only degrading axis).

    Why the composite matters at 100 TB: IVF alone still reads full
    floats inside the probed cells (~nprobe/C of the table × 4-8 B/dim);
    SQ8 alone still scans every row (× 1 B/dim).  Composed, the probe
    reads ~nprobe/C of the rows × 1 B/dim of the bytes — with the float
    table touched only for the ≤{SQ8_POOL}-row pool join-back, the
    recurring probe I/O drops ~16-32× vs the exact scan at the standing
    knobs.  Recall is bounded above by the IVF gate's (the SQ8 stage
    ranks within the gate); both knobs (nprobe, pool) stay independent.

    Determinism is structural, inherited from the two parents: the cell
    assignment and nprobe pick are the micro-integer argmaxes the IVF
    oracle replays; the ADC key is one IEEE multiply of a BIGINT dot by
    an exact double scale; ties break on vec_id everywhere; the re-rank
    uses the shared micro-quantized rank.  Empty-corpus contract: LOUD
    raise from ``_ivf_seed_lists`` (the EMPTY_RAISES family).
    Reference heritage: none (SURVEY §2 charter extension, similarity
    family)."""
    import math

    ensure_utc(spark)
    assigned, probe_v, probe_cids = _seed or _ivf_seed_lists(spark, sf_dir)
    pq_lit = F.array(
        *[
            F.lit(int(math.floor(x * 1000000.0 + 0.5))).cast("bigint")
            for x in probe_v
        ]
    )
    pv_lit = F.array(*[F.lit(x) for x in probe_v])

    cand = assigned.where(
        F.col("cid").isin(*probe_cids) & (F.col("vec_id") != PROBE_ID)
    )
    s = F.aggregate(
        F.zip_with(F.col("codes"), pq_lit, lambda c, p: c * p),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    pool = (
        cand.withColumn("scale", _sq8_scale().cast("double"))
        .withColumn("codes", _sq8_codes())
        .withColumn("s", s)
        .orderBy(
            (F.col("s").cast("double") * F.col("scale")).desc(), "vec_id"
        )
        .limit(SQ8_POOL)
        .select("vec_id", "s", "scale")
    )
    scored = (
        assigned.select("vec_id", "label", "v")
        # broadcast-safe: pool is LIMIT SQ8_POOL (<=40 rows by
        # construction) — constant-bounded regardless of corpus size
        .join(F.broadcast(pool), "vec_id")
        .withColumn(
            "c", _dot(F.col("v"), pv_lit) / (_norm(F.col("v")) * _norm(pv_lit))
        )
    )
    mc = F.round(F.lit(1000000) * F.col("c")).cast("bigint")
    topk = scored.orderBy(mc.desc(), "vec_id").limit(TOP_K)
    w = Window.orderBy(mc.desc(), F.col("vec_id"))
    return topk.select(
        "vec_id",
        "label",
        (
            F.round(
                F.col("s").cast("double")
                * F.col("scale")
                / F.lit(127.0)
                / F.lit(1000000.0),
                3,
            )
            + F.lit(0.0)
        ).alias("adc"),
        (F.round("c", 3) + F.lit(0.0)).alias("cosine"),
        F.row_number().over(w).cast("bigint").alias("rnk"),
    )


@query("sim_search_ivf_sq8_partitioned", oracle=_IVF_SQ8_ORACLE)
def sim_search_ivf_sq8_partitioned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The IVF,SQ8 composite with its index MATERIALIZED as a
    cid-PARTITIONED parquet table of int8 CODES — the on-disk layout
    ``sim_search_ivf_sq8``'s docstring promises for 100 TB, realizing
    BOTH pruning axes at the I/O layer in one physical design:

    1. INDEX BUILD (write-once per dataset version, in the shared
       index store): the seed-centroid assignment plus the SQ8
       quantization — ``(vec_id, scale, codes array<tinyint>)`` written
       ``partitionBy("cid")``.  The floats are NOT in the index: one
       directory per inverted list holding 1-B-wide codes (parquet
       stores tinyint as bit-packed/RLE INT(8) — the 1 B/dim contract;
       a production store would pack to raw binary, same semantics);
    2. PROBE: re-read with ``cid IN probe_cids`` — a PARTITION-column
       predicate, so Catalyst prunes the non-probed ~(1 - nprobe/C) of
       the index at FILE LISTING time (``PartitionFilters``, pinned),
       and the scanned bytes are code bytes, not float bytes
       (``ReadSchema`` excludes the vector column, pinned);
    3. the ADC ranking runs on the STORED codes (same BIGINT·double
       key), and only the bounded top-{SQ8_POOL} pool joins back to
       the full-precision float table for the exact re-rank.

    Row-identical to ``sim_search_ivf_sq8`` by construction (same
    assignment, same codes, same ranking keys — pinned), so the two
    share one oracle: this variant is the physical strategy, the
    in-plan form is the semantics.  At 100 TB: build once per corpus
    version, refresh one list = overwrite one partition directory, and
    each probe's recurring I/O is nprobe/C of the rows × 1 B/dim of
    the bytes + one bounded float join.  Empty-corpus contract: LOUD
    raise from ``_ivf_seed_lists`` (EMPTY_RAISES family).  Reference
    heritage: none (SURVEY §2 charter extension, similarity family)."""
    import math

    ensure_utc(spark)
    assigned, probe_v, probe_cids = _ivf_seed_lists(spark, sf_dir)

    def _build(d: str) -> None:
        (
            assigned.withColumn("scale", _sq8_scale().cast("double"))
            .withColumn("codes", _sq8_codes("tinyint"))
            .select("vec_id", "scale", "codes", "cid")
            .write.mode("overwrite")
            .partitionBy("cid")
            .parquet(d)
        )

    index_dir = index_store.index_dir(
        "ivf_sq8_index", sf_dir, "embeddings", _build
    )

    pq_lit = F.array(
        *[
            F.lit(int(math.floor(x * 1000000.0 + 0.5))).cast("bigint")
            for x in probe_v
        ]
    )
    pv_lit = F.array(*[F.lit(x) for x in probe_v])
    lists = spark.read.parquet(index_dir)
    s = F.aggregate(
        F.zip_with(
            F.col("codes"), pq_lit, lambda c, p: c.cast("bigint") * p
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    pool = (
        lists.where(
            F.col("cid").isin(*probe_cids) & (F.col("vec_id") != PROBE_ID)
        )
        .withColumn("s", s)
        .orderBy(
            (F.col("s").cast("double") * F.col("scale")).desc(), "vec_id"
        )
        .limit(SQ8_POOL)
        .select("vec_id", "s", "scale")
    )
    scored = (
        assigned.select("vec_id", "label", "v")
        # broadcast-safe: pool is LIMIT SQ8_POOL (<=40 rows by
        # construction) — constant-bounded regardless of corpus size
        .join(F.broadcast(pool), "vec_id")
        .withColumn(
            "c", _dot(F.col("v"), pv_lit) / (_norm(F.col("v")) * _norm(pv_lit))
        )
    )
    mc = F.round(F.lit(1000000) * F.col("c")).cast("bigint")
    topk = scored.orderBy(mc.desc(), "vec_id").limit(TOP_K)
    w = Window.orderBy(mc.desc(), F.col("vec_id"))
    return topk.select(
        "vec_id",
        "label",
        (
            F.round(
                F.col("s").cast("double")
                * F.col("scale")
                / F.lit(127.0)
                / F.lit(1000000.0),
                3,
            )
            + F.lit(0.0)
        ).alias("adc"),
        (F.round("c", 3) + F.lit(0.0)).alias("cosine"),
        F.row_number().over(w).cast("bigint").alias("rnk"),
    )


# ---------------------------------------------------------------------------
# cross-ladder recall / scan-cost characterization (r16 — VERDICT r15 #6)
# ---------------------------------------------------------------------------

from mapreduceplusplus_spark.registry import ORACLES as _ORACLES_SO_FAR

#: the multiprobe bucket-set SQL fragment (probe's own bucket + the
#: LSH_BITS Hamming-1 flips) — same literal the multiprobe oracle uses
_MP_BSET = ", ".join(
    ["pb.pb"] + [f"xor(pb.pb, {1 << i})" for i in range(LSH_BITS)]
)

#: the IVF coarse gate (cents → probe → assignment argmax → nprobe
#: pick) as a census subquery: the vec_ids whose list the probe scans.
#: Same device as _IVF_ORACLE's asg/pc CTEs.
_IVF_GATE_CENSUS_SQL = f"""
      SELECT count(*) AS cand FROM (
        WITH cents AS (
          SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings WHERE vec_id < {IVF_CENTROIDS}
        ),
        probe AS (
          SELECT CAST(embedding AS DOUBLE[]) AS pv FROM embeddings
          WHERE vec_id = {PROBE_ID}
        ),
        ac AS (
          SELECT e.vec_id, c.cid,
                 CAST(round(1000000 * list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]), c.cv)) AS BIGINT) AS mc
          FROM embeddings e CROSS JOIN cents c
        ),
        asg AS (
          SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY mc DESC, cid) AS rn
            FROM ac) WHERE rn = 1
        ),
        pc AS (
          SELECT cid FROM (
            SELECT c.cid,
                   row_number() OVER (
                     ORDER BY CAST(round(1000000 * list_cosine_similarity(
                       c.cv, p.pv)) AS BIGINT) DESC, c.cid) AS rn
            FROM cents c CROSS JOIN probe p) WHERE rn <= {IVF_NPROBE}
        )
        SELECT a.vec_id FROM asg a
        WHERE a.cid IN (SELECT cid FROM pc) AND a.vec_id <> {PROBE_ID}
      ) ivf_gate
"""

_RECALL_CURVE_ORACLE = f"""
    WITH exact_ids AS (SELECT vec_id FROM ({_ORACLES_SO_FAR["sim_search_topk"]}) x),
    ham_ids AS (SELECT vec_id FROM ({_ORACLES_SO_FAR["sim_search_hamming_rerank"]}) x),
    mrl_ids AS (SELECT vec_id FROM ({_ORACLES_SO_FAR["sim_search_matryoshka_funnel"]}) x),
    sq8_ids AS (SELECT vec_id FROM ({_ORACLES_SO_FAR["sim_search_sq8_rerank"]}) x),
    lsh_ids AS (SELECT vec_id FROM ({_ORACLES_SO_FAR["sim_search_lsh"]}) x),
    mp_ids AS (SELECT vec_id FROM ({_ORACLES_SO_FAR["sim_search_lsh_multiprobe"]}) x),
    ivf_ids AS (SELECT vec_id FROM ({_ORACLES_SO_FAR["sim_search_ivf"]}) x),
    isq_ids AS (SELECT vec_id FROM ({_ORACLES_SO_FAR["sim_search_ivf_sq8"]}) x),
    pq_ids AS (SELECT vec_id FROM ({_ORACLES_SO_FAR["sim_search_ivfpq"]}) x),
    N AS (SELECT count(*) AS n FROM embeddings WHERE vec_id <> {PROBE_ID}),
    LSHC AS (
      SELECT count(*) AS cand FROM (
        WITH {LSH_BUCKET_CTE},
        pb AS (SELECT bucket AS pb FROM bucket WHERE vec_id = {PROBE_ID})
        SELECT b.vec_id FROM bucket b CROSS JOIN pb
        WHERE b.bucket = pb.pb AND b.vec_id <> {PROBE_ID}
      ) lsh_gate
    ),
    MPC AS (
      SELECT count(*) AS cand FROM (
        WITH {LSH_BUCKET_CTE},
        pb AS (SELECT bucket AS pb FROM bucket WHERE vec_id = {PROBE_ID})
        SELECT b.vec_id FROM bucket b CROSS JOIN pb
        WHERE b.bucket IN ({_MP_BSET}) AND b.vec_id <> {PROBE_ID}
      ) mp_gate
    ),
    IVFC AS ({_IVF_GATE_CENSUS_SQL})
    SELECT tier, hits,
           round(hits / {TOP_K}.0, 3) + 0 AS recall_at_k,
           cand_ranked,
           round(cand_ranked / n, 4) + 0 AS frac_ranked,
           cand_exact,
           round(cand_exact / n, 4) + 0 AS frac_exact,
           CAST(n AS BIGINT) AS corpus_n
    FROM (
      SELECT 'exact' AS tier,
             (SELECT count(*) FROM exact_ids) AS hits,
             n AS cand_ranked, n AS cand_exact, n FROM N
      UNION ALL
      SELECT 'hamming',
             (SELECT count(*) FROM ham_ids JOIN exact_ids USING (vec_id)),
             n, LEAST({HAMMING_POOL}, n), n FROM N
      UNION ALL
      SELECT 'mrl16',
             (SELECT count(*) FROM mrl_ids JOIN exact_ids USING (vec_id)),
             n, LEAST({MRL_POOL}, n), n FROM N
      UNION ALL
      SELECT 'sq8',
             (SELECT count(*) FROM sq8_ids JOIN exact_ids USING (vec_id)),
             n, LEAST({SQ8_POOL}, n), n FROM N
      UNION ALL
      SELECT 'lsh',
             (SELECT count(*) FROM lsh_ids JOIN exact_ids USING (vec_id)),
             (SELECT cand FROM LSHC), (SELECT cand FROM LSHC), n FROM N
      UNION ALL
      SELECT 'lsh_multiprobe',
             (SELECT count(*) FROM mp_ids JOIN exact_ids USING (vec_id)),
             (SELECT cand FROM MPC), (SELECT cand FROM MPC), n FROM N
      UNION ALL
      SELECT 'ivf',
             (SELECT count(*) FROM ivf_ids JOIN exact_ids USING (vec_id)),
             (SELECT cand FROM IVFC), (SELECT cand FROM IVFC), n FROM N
      UNION ALL
      SELECT 'ivf_sq8',
             (SELECT count(*) FROM isq_ids JOIN exact_ids USING (vec_id)),
             (SELECT cand FROM IVFC),
             LEAST({SQ8_POOL}, (SELECT cand FROM IVFC)), n FROM N
      UNION ALL
      SELECT 'ivfpq',
             (SELECT count(*) FROM pq_ids JOIN exact_ids USING (vec_id)),
             (SELECT cand FROM IVFC),
             LEAST({PQ_RERANK}, (SELECT cand FROM IVFC)), n FROM N
    ) tiers
    ORDER BY tier
    """


@query("sim_search_recall_curve", oracle=_RECALL_CURVE_ORACLE)
def sim_search_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-ladder ANN recall/cost curve (VERDICT r15 #6) — ONE query
    emitting, per ANN tier at its standing knobs, recall@{TOP_K}
    against the exact top-k plus the tier's scanned-candidate census:
    the in-engine readout BASELINE.md's hand-maintained
    characterization table previously approximated.

    One row per tier — exact, hamming (1-bit sketch), mrl16
    (Matryoshka {MRL_DIMS}-dim prefix funnel, {MRL_POOL}-pool
    re-rank), sq8 (int8 scalar quantization, {SQ8_POOL}-pool re-rank),
    lsh (single-probe),
    lsh_multiprobe (Hamming-1), ivf (seed-centroid, nprobe
    {IVF_NPROBE}/{IVF_CENTROIDS}), ivf_sq8 (the IVF×int8 composite,
    {SQ8_POOL}-pool re-rank), ivfpq (8×16 codes, re-rank
    {PQ_RERANK}) — with:

    - ``hits`` / ``recall_at_k``: |tier top-k ∩ exact top-k| / k,
      the standard recall@k over the SAME probe and corpus;
    - ``cand_ranked`` / ``frac_ranked``: rows the tier's CHEAP ranking
      stage touches (hamming scans every sketch; LSH scans its
      bucket(s); IVF/PQ scan the probed lists — the ADC pass);
    - ``cand_exact`` / ``frac_exact``: rows scored at FULL precision
      (LSH/IVF exact-score every candidate; hamming and PQ re-rank a
      bounded pool).

    The tier top-ks are the REGISTERED tier plans composed as
    sub-plans (not re-derivations), so the curve can never drift from
    what the tiers actually return; censuses reuse each tier's own
    gate device (bucket equality, multiprobe bucket set, IVF
    assignment argmax + nprobe pick).  At 100 TB every component is
    the tier's own bounded scan + a {TOP_K}-row join — the curve costs
    one extra pass over the gates, no new shuffle.  This is the
    recall-vs-cost governance readout an ANN deployment tunes its
    knobs from (nprobe, bits, re-rank depth).  Reference heritage:
    none (SURVEY §2 charter extension, similarity family)."""
    from functools import reduce as _red

    ensure_utc(spark)
    # the IVF gate raises loudly on an empty/probe-less corpus — do it
    # FIRST so the whole curve has one deterministic empty contract
    assigned, _probe_v, probe_cids = _ivf_seed_lists(spark, sf_dir)
    # ONE corpus materialization for the WHOLE curve (r17, tightening
    # the r16 one-checkpoint-per-shared-sub-plan form): cid (the IVF
    # assignment argmax) and bucket (the LSH signature) are computed
    # in the SAME pass — the r16 form checkpointed ``assigned`` and
    # then the signature frame separately — and as a lineage-keeping
    # ``persist()`` instead of an eager localCheckpoint (VERDICT r16
    # #3: an executor loss now recomputes instead of failing the
    # query, the relation spills MEMORY_AND_DISK instead of pinning
    # storage memory, and the measured warm time is parity).  The
    # cache is PER-INVOCATION — every run still computes it from the
    # parquet inputs inside the timed region; it is the in-plan
    # equivalent of the persisted index stores the tier queries
    # already share.
    base = assigned.withColumn("bucket", lsh_signature("v")).persist()
    seed = (base, _probe_v, probe_cids)

    # --- gate censuses as BOUNDED DRIVER-SIDE LITERALS (r17) ---
    # the r16 form materialized FIVE 1-row frames (n, exact ids, two
    # bucket censuses, the IVF census) as separate checkpoint jobs and
    # cross-joined them into all 9 branches; every census is a bounded
    # scalar (a count) or a ≤TOP_K id list, i.e. exactly the
    # driver-side-literal pattern of sort_global's boundaries and the
    # MMR greedy — TWO bounded collects over the cached base replace
    # all five jobs, and the branch grid becomes pure literals (the
    # censuses are still computed per invocation from the same data,
    # by the same predicates: values unchanged, the oracle replays
    # them independently).
    not_probe = F.col("vec_id") != PROBE_ID
    row1 = base.agg(
        F.sum(F.when(not_probe, 1).otherwise(0)).alias("n"),
        F.sum(
            F.when(F.col("cid").isin(*probe_cids) & not_probe, 1).otherwise(0)
        ).alias("ivfc"),
        F.max(F.when(~not_probe, F.col("bucket"))).alias("pb"),
    ).collect()[0]
    n, ivfc = int(row1.n or 0), int(row1.ivfc or 0)
    pb = int(row1.pb)  # probe row exists — _ivf_seed_lists raised if not
    pbs = [pb, *[pb ^ (1 << i) for i in range(LSH_BITS)]]
    row2 = base.where(not_probe).agg(
        F.sum(F.when(F.col("bucket") == pb, 1).otherwise(0)).alias("lshc"),
        F.sum(F.when(F.col("bucket").isin(pbs), 1).otherwise(0)).alias("mpc"),
    ).collect()[0]
    lsh_census, mp_census = int(row2.lshc or 0), int(row2.mpc or 0)
    ivf_census, n_as_census = ivfc, n

    # exact top-k ids: the registered exact tier composed over the SAME
    # materialized corpus (``_emb`` pass-through — identical expression,
    # identical doubles, identical raw-double ranking); the ≤TOP_K ids
    # become an isin literal instead of a 9-branch broadcast join
    exact_id_rows = (
        sim_search_topk(spark, sf_dir, _emb=base).select("vec_id").collect()
    )
    exact_id_list = sorted(int(r.vec_id) for r in exact_id_rows)

    def _least(census: int, cap: int) -> int:
        return min(census, cap)

    tiers = [
        (
            "exact",
            sim_search_topk(spark, sf_dir, _emb=base).select("vec_id"),
            n_as_census,
            n_as_census,
        ),
        (
            "hamming",
            sim_search_hamming_rerank(spark, sf_dir).select("vec_id"),
            n_as_census,
            _least(n_as_census, HAMMING_POOL),
        ),
        (
            "mrl16",
            sim_search_matryoshka_funnel(spark, sf_dir).select("vec_id"),
            n_as_census,
            _least(n_as_census, MRL_POOL),
        ),
        (
            "sq8",
            sim_search_sq8_rerank(spark, sf_dir).select("vec_id"),
            n_as_census,
            _least(n_as_census, SQ8_POOL),
        ),
        (
            "lsh",
            sim_search_lsh(spark, sf_dir, _emb=base).select("vec_id"),
            lsh_census,
            lsh_census,
        ),
        (
            "lsh_multiprobe",
            sim_search_lsh_multiprobe(spark, sf_dir, _emb=base).select("vec_id"),
            mp_census,
            mp_census,
        ),
        (
            "ivf",
            sim_search_ivf(spark, sf_dir, _seed=seed).select("vec_id"),
            ivf_census,
            ivf_census,
        ),
        (
            "ivf_sq8",
            sim_search_ivf_sq8(spark, sf_dir, _seed=seed).select("vec_id"),
            ivf_census,
            _least(ivf_census, SQ8_POOL),
        ),
        (
            "ivfpq",
            sim_search_ivfpq(spark, sf_dir, _seed=seed).select("vec_id"),
            ivf_census,
            _least(ivf_census, PQ_RERANK),
        ),
    ]
    rows = []
    in_exact = (
        F.col("vec_id").isin(*exact_id_list)
        if exact_id_list
        else F.lit(False)
    )
    for name, ids, cr, ce in tiers:
        # hits = |tier ids ∩ exact ids| via the ≤TOP_K isin literal;
        # cr/ce/n are literal ints, but every derived ratio stays a
        # SPARK expression (F.round half-up) so the rounding semantics
        # match the oracle exactly as before
        hits = ids.where(in_exact).agg(F.count("*").alias("hits"))
        rows.append(
            hits.select(
                F.lit(name).alias("tier"),
                F.col("hits").cast("bigint").alias("hits"),
                (
                    F.round(F.col("hits") / F.lit(float(TOP_K)), 3)
                    + F.lit(0.0)
                ).alias("recall_at_k"),
                F.lit(cr).cast("bigint").alias("cand_ranked"),
                (
                    F.round(F.lit(cr) / F.lit(n).cast("double"), 4)
                    + F.lit(0.0)
                ).alias("frac_ranked"),
                F.lit(ce).cast("bigint").alias("cand_exact"),
                (
                    F.round(F.lit(ce) / F.lit(n).cast("double"), 4)
                    + F.lit(0.0)
                ).alias("frac_exact"),
                F.lit(n).cast("bigint").alias("corpus_n"),
            )
        )
    return _red(DataFrame.unionByName, rows).orderBy("tier")
