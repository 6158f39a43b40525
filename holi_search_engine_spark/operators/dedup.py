"""Deduplication operators for a training-data pipeline over ``documents``:
exact (hash-groupBy), MinHash+LSH banding, n-gram Jaccard verification of
candidates, and SimHash fingerprints.

All hashes are portable md5-derived hashes (``common.py``; shingles are
hashed to 62-bit longs at generation time — :func:`shingles_of`) so the
Spark plans and the DuckDB oracle SQL agree bit-for-bit.  At 100 TB the
same plans hold: shingling/explode is a map-only stage, the MinHash
signature is one groupBy(doc), band signatures derive map-side from that
same aggregated row (no second shuffle), and only docs sharing a
(band, sig) bucket are pair-joined — the quadratic step never touches
the full corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .common import (
    load,
    portable_hash32,
    portable_hash32_sql,
    portable_hash60,
    portable_hash60_sql,
)

QUERIES: dict = {}
ORACLE: dict[str, str] = {}

N_HASHES = 8  # minhash signature length
BANDS = 4  # → rows per band = 2
ROWS_PER_BAND = N_HASHES // BANDS
SHINGLE = 3  # word n-gram size


def q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


@q(
    "dedup_exact",
    """
    SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS keeper
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, keep the smallest doc_id —
    the distributed analog of the reference crawler's content-seen table
    (``jobs/Crawler.java:352-364``)."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper")
    )


#: the Mersenne prime 2³¹−1 — modulus of the shingle-hash lanes and of the
#: MinHash affine family below
_MINHASH_P = 2147483647
#: positional-combine multipliers for the two 31-bit shingle-hash lanes
#: (distinct primes; any constants < 2³¹ keep every intermediate in int64)
_SH_A1 = 1000003
_SH_A2 = 999983
_SH_LO_MASK = (1 << 30) - 1


def shingles_of(docs: DataFrame, shingle: int = SHINGLE) -> DataFrame:
    """Distinct word-n-gram shingles per doc as portable 62-bit HASHES
    (map-only stage): ``(doc_id, shingle: long)``.

    Each token is md5-hashed ONCE to a 60-bit value; a shingle is two
    independent 31-bit polynomial lanes over the token hashes' high/low
    30 bits (``s = (s·A + h) mod p`` per position, p = 2³¹−1), packed as
    ``lane1·2³¹ + lane2`` — the k-gram analog of the rolling-fingerprint
    construction in MMDS §3.2.2, chosen because both Spark and DuckDB can
    evaluate it bit-identically (md5 + int64 arithmetic only).

    Hashing at GENERATION time (instead of caching shingle strings and
    md5-ing them downstream, as this pipeline did through round 4) was
    measured at the 1.3M-doc bench tier to dominate the LSH wall: the
    string build (``concat_ws`` per shingle + ``array_distinct`` over
    strings + caching ~25-byte strings) cost ~5,000 CPU-s vs ~600 for the
    whole 128-lane minhash aggregate.  The hashed stream caches 8-byte
    longs, dedups/joins on longs, and the minhash base hash becomes one
    ``% p`` instead of a second md5 pass.  Collisions at 62 bits are
    negligible even at 10¹² corpus shingles: a candidate pair comparing
    ~10³-shingle sets sees ~10⁶ cross pairs × 2⁻⁶² ≈ 2·10⁻¹³ expected
    false intersections.

    Changing the hash family changes which AT-THRESHOLD pairs the banding
    catches (each family is an independent draw of the S-curve coin): at
    the 1.3M-doc tier, old and new families agree on every pair whose
    exact Jaccard EXCEEDS 0.5 and differ only on pairs at exactly J=0.5,
    where catch probability is 0.873 — measured pair-set diff in
    ``BENCH/lsh_pairset_r5.json``.

    Dedup happens inside the row via ``array_distinct`` — the distinct
    key is (doc_id, shingle), i.e. purely doc-local, so a corpus-wide
    ``.distinct()`` shuffle would move every shingle through an exchange
    to deduplicate rows that all live in the same input row.

    Contract: ``docs`` has ONE row per doc_id (the shape of every docs
    table here).  A caller feeding duplicate doc_id rows would double-emit
    those docs' shingles; pre-aggregate or ``dropDuplicates`` first."""
    # each select boundary below pins a multi-referenced non-cheap alias
    # (_toks: regex split of the full text, referenced 3×; _th: the md5
    # transform, referenced 2k× per shingle) — CollapseProject does not
    # inline non-cheap aliases referenced more than once, so the final
    # plan evaluates split once and md5 once per token (plan-audited)
    tokd = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("_toks")
    )
    toks = F.col("_toks")
    # one md5 + one conv per token; 15 hex chars = the most md5 bits that
    # fit a signed int64 (same bound as portable_hash60)
    th = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    )
    n = F.size(toks)
    idx = F.when(n >= shingle, F.sequence(F.lit(0), n - shingle)).otherwise(
        F.array().cast("array<int>")
    )
    base = tokd.select("doc_id", th.alias("_th"), idx.alias("_idx"))
    p = F.lit(_MINHASH_P)

    def lane(i, mult, extract):
        s = F.pmod(extract(F.element_at(F.col("_th"), i + 1)), p)
        for j in range(1, shingle):
            s = F.pmod(
                s * F.lit(mult) + extract(F.element_at(F.col("_th"), i + 1 + j)), p
            )
        return s

    def hi(x):
        return F.shiftright(x, 30)

    def lo(x):
        return x.bitwiseAND(F.lit(_SH_LO_MASK))

    sh = F.array_distinct(
        F.transform(
            F.col("_idx"),
            lambda i: lane(i, _SH_A1, hi) * F.lit(1 << 31) + lane(i, _SH_A2, lo),
        )
    )
    return base.select("doc_id", F.explode(sh).alias("shingle"))


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shingles_of(load(spark, sf_dir, "documents"))


def shingles_sql(
    n: int = SHINGLE,
    cte_name: str = "shingles",
    shingle_col: str = "shingle",
    src: str = "documents",
) -> str:
    """DuckDB twin of :func:`shingles_of` for word-``n``-grams (the single
    source of the shingle CTE — curation's decontamination oracle reuses
    it at its own n): identical md5-per-token 60-bit base hashes, same
    two-lane polynomial, same 62-bit packing.  DuckDB lists are 1-based
    (``th[i]``); the generated i range matches Spark's 0-based
    ``sequence(0, n_tokens − k)``."""

    def lane_sql(mult: int, extract) -> str:
        s = f"({extract('th[i]')} % {_MINHASH_P})"
        for j in range(1, n):
            s = f"(({s} * {mult} + {extract(f'th[i + {j}]')}) % {_MINHASH_P})"
        return s

    def hi(x: str) -> str:
        return f"({x} >> 30)"

    def lo(x: str) -> str:
        return f"({x} & {_SH_LO_MASK})"

    return f"""
    {cte_name} AS (
      SELECT DISTINCT doc_id,
             ({lane_sql(_SH_A1, hi)} * {1 << 31}
              + {lane_sql(_SH_A2, lo)}) AS {shingle_col}
      FROM (SELECT doc_id,
                   list_transform(string_split_regex(trim(text), '\\s+'),
                                  t -> cast(('0x' || substr(md5(t), 1, 15)) as bigint)) AS th
            FROM {src}),
           unnest(range(1, greatest(len(th) - {n - 1}, 0) + 1)) AS r(i)
    )"""


_SHINGLES_SQL = shingles_sql()

# Universal-hash MinHash family (MMDS §3.3.6): the shingle's 62-bit hash
# reduces to h = shingle % p ∈ [0, p), then hash j is the affine map
# (a_j·h + b_j) mod p over the Mersenne prime p = 2³¹−1.  (Since
# 2³¹ ≡ 1 mod p, h is exactly (lane1 + lane2) mod p — a uniform mix of
# both lanes.)  Coefficients derive deterministically from j (md5 of the
# seed label) and are embedded as plan literals, so the Spark plan and the
# DuckDB oracle compute bit-identical signatures while paying ZERO crypto
# hashes here — the only md5 in the pipeline is the per-token hash inside
# :func:`shingles_of` (the earlier per-shingle-string md5 forms spent >90%
# of the pipeline's CPU in md5/string work at k=128).
# All intermediates fit int64: a,b,h < 2³¹ → a·h+b < 2⁶².


def _minhash_coeffs(n_hashes: int) -> list[tuple[int, int]]:
    import hashlib

    out = []
    for j in range(n_hashes):
        d = hashlib.md5(f"minhash-seed:{j}".encode()).hexdigest()
        a = int(d[:8], 16) % (_MINHASH_P - 1) + 1
        b = int(d[8:16], 16) % _MINHASH_P
        out.append((a, b))
    return out


def _minhash_sql(n_hashes: int, cte_name: str = "mh") -> str:
    """DuckDB twin of :func:`_minhash_wide` in long (doc_id, j, minhash)
    form (same literals, same modulus)."""
    coeffs = ", ".join(
        f"({j}, {a}, {b})" for j, (a, b) in enumerate(_minhash_coeffs(n_hashes))
    )
    base = f"(shingle % {_MINHASH_P})"
    return f"""
    {cte_name} AS (
      SELECT doc_id, c.j,
             min((c.a * {base} + c.b) % {_MINHASH_P}) AS minhash
      FROM shingles, (VALUES {coeffs}) c(j, a, b)
      GROUP BY doc_id, c.j
    )"""


_MINHASH_SQL = _minhash_sql(N_HASHES)


def _minhash_wide(sh: DataFrame, n_hashes: int) -> DataFrame:
    """(doc_id, _m0 … _m{n-1}): one groupBy(doc_id) with n_hashes
    min-aggregates — the shingle stream is scanned once with map-side
    partial aggregation, instead of being row-amplified ×n_hashes before
    the shuffle (same lesson as the SimHash one-pass rewrite)."""
    # the base hash is materialized as a column BEFORE the groupBy:
    # referencing the expression inside the n_hashes agg inputs would
    # inline (and re-evaluate) it once per seed — Catalyst does not
    # CSE across aggregate expressions
    hashed = sh.select(
        "doc_id",
        F.pmod(F.col("shingle"), F.lit(_MINHASH_P)).alias("_hb"),
    )
    mins = [
        F.min(
            F.pmod(F.lit(a) * F.col("_hb") + F.lit(b), F.lit(_MINHASH_P))
        ).alias(f"_m{j}")
        for j, (a, b) in enumerate(_minhash_coeffs(n_hashes))
    ]
    return hashed.groupBy("doc_id").agg(*mins)


def _sig_concat_wide(n_hashes: int):
    """Signature string straight off the wide minhash row: the ``_m``
    columns are already in seed order, so this is ``string_agg(...,
    ORDER BY j)`` without the explode → re-groupBy round trip."""
    return F.concat_ws(
        ",", *[F.col(f"_m{j}").cast("string") for j in range(n_hashes)]
    )


def lsh_params_for_threshold(threshold: float, n_hashes: int) -> tuple[int, int]:
    """Pick (bands, rows_per_band) with bands·rows = n_hashes whose S-curve
    midpoint (1/bands)^(1/rows) sits closest to the target Jaccard
    threshold — the standard MMDS §3.4 tuning.  E.g. 128 hashes at a 0.5
    threshold → 32 bands of 4 (midpoint 0.420, vs 16×8's 0.707); ties
    break toward MORE bands (higher recall)."""
    best: tuple[float, int, int] | None = None
    for rows in range(1, n_hashes + 1):
        if n_hashes % rows:
            continue
        bands = n_hashes // rows
        mid = (1.0 / bands) ** (1.0 / rows)
        d = abs(mid - threshold)
        if best is None or d < best[0] or (d == best[0] and bands > best[1]):
            best = (d, bands, rows)
    assert best is not None
    return best[1], best[2]


_RESULT_CACHES: list[DataFrame] = []
_RESULT_CACHE_KEEP = 4
_RESULT_CACHES_LOCK = __import__("threading").Lock()


def _finish(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Materialize ``result`` into the cache (pair tables — orders of
    magnitude smaller than the corpus) and THEN release the persisted
    corpus-sized intermediates, so repeated dedup jobs in a long-lived
    session don't accumulate cached plans.  Result caches themselves are
    bounded: beyond the last ``_RESULT_CACHE_KEEP`` results the oldest is
    unpersisted — a returned frame MAY therefore lazily recompute after
    eviction (still correct; the lineage is intact).  The registry is
    lock-guarded: concurrent dedup calls in one session would otherwise
    race append/pop and could unpersist a result another thread just
    returned.  persist (not localCheckpoint) keeps the physical plan
    inspectable — ``scripts/plan_audit.py`` asserts these plans' shapes."""
    out = result.persist()
    out.count()
    for df in cached:
        df.unpersist()
    with _RESULT_CACHES_LOCK:
        _RESULT_CACHES.append(out)
        evict = []
        while len(_RESULT_CACHES) > _RESULT_CACHE_KEEP:
            evict.append(_RESULT_CACHES.pop(0))
    for df in evict:
        df.unpersist()
    return out


def lsh_candidate_pairs(
    sh: DataFrame,
    n_hashes: int,
    bands: int,
    rows_per_band: int,
    cache_registry: list[DataFrame] | None = None,
) -> DataFrame:
    """Banded candidate generation: docs agreeing on ANY band's full
    signature pair up.  Only bucket-mates join — the quadratic step never
    sees the corpus, and a band bucket of k docs emits k² pairs only
    within that bucket.

    Two shapes matter at corpus scale, both measured at 325k docs / 128
    hashes on local[32]:

    - Band signatures are built STRAIGHT OFF the wide minhash row
      (``concat_ws`` over each band's ``_m`` columns + one explode to
      docs×bands rows).  The previous long-form groupBy(doc_id, band)
      re-shuffled docs×n_hashes rows that the wide aggregate had already
      grouped — 108 s of the pipeline's 370 s wall for zero information.
    - The self-join keys on ``(band, sig)`` where ``sig`` is the
      PORTABLE md5-derived 60-bit hash of the signature string
      (:func:`portable_hash60`), so the join shuffles 3 fixed-width
      columns instead of 40-char strings.  The DuckDB twin joins on the
      same portable hash, so candidates — including any hash-collision
      pair — are identical by construction in both engines; the
      production path's exact-Jaccard verification then drops collision
      pairs (an unrelated pair shares ~no shingles, far under any
      threshold), exactly as it drops ordinary LSH false positives.  60
      bits keeps collisions negligible at corpus scale (10⁹ docs → ~0.4
      expected colliding pairs per band; 32 bits would birthday into
      ~10⁸ spurious candidates per band there, and already produced ~400
      measured at 325k docs).

    The band table is persisted (the self-join consumes it twice); pass
    ``cache_registry`` to receive it for unpersisting once the result is
    materialized (the top-level pipelines do, via :func:`_finish`).

    The persist happens AFTER a ``repartition(band, sig)``: the cached
    plan then carries HashPartitioning on exactly the join keys, so BOTH
    self-join sides read the cache co-partitioned and EnsureRequirements
    inserts no exchange — one shuffle of the band table instead of two
    (measured: the two join-side exchanges were 2×204 MB at 300k docs /
    k=128, the single repartition write is 204 MB; shape asserted in
    ``tests/test_plans.py``).  A groupBy+collect_list pair expansion would
    halve it again but materializes each bucket's k²/2 pairs as one array
    row — a mega-bucket (10⁵ copies of a boilerplate doc) would OOM a
    task, while the streaming join only colocates them."""
    wide = _minhash_wide(sh, n_hashes)
    band_structs = [
        F.struct(
            F.lit(b).cast("long").alias("band"),
            portable_hash60(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"_m{j}").cast("string")
                        for j in range(b * rows_per_band, (b + 1) * rows_per_band)
                    ],
                )
            ).alias("sig"),
        )
        for b in range(bands)
    ]
    banded = wide.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("_bs")
    ).select(
        "doc_id",
        F.col("_bs.band").alias("band"),
        F.col("_bs.sig").alias("sig"),
    )
    parts = max(8, 2 * sh.sparkSession.sparkContext.defaultParallelism)
    banded = banded.repartition(parts, "band", "sig").persist()
    if cache_registry is not None:
        cache_registry.append(banded)
    # fill the cache before the self-join is planned: both sides then
    # carry the table's real size, so AQE picks the join's build side
    # from equal statistics instead of from whichever side's cache stage
    # happened to finish first (which made the physical plan, and
    # PLANS.md, differ from run to run)
    banded.count()
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def verify_pairs_jaccard(
    sh: DataFrame,
    pairs: DataFrame,
    min_jaccard: float | None = None,
    cache_registry: list[DataFrame] | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs only (semi-join
    intersection sizes; never materializes shingle sets driver-side).

    ``min_jaccard`` thresholds the UNROUNDED ratio (what the DuckDB
    oracles do); the output column stays rounded to 6dp.  Callers must
    not filter on the rounded output — a true jaccard just under the
    threshold rounds up across it and diverges from the oracle.

    The shingle stream is first cut to CANDIDATE docs via a broadcast
    semi-join (the candidate doc set is orders of magnitude smaller than
    the corpus whenever near-dup detection is meaningful — that is the
    entire point of the banding/df-cap pruning that produced ``pairs``).
    Without the cut, the intersection join and the semi-join each
    shuffled the FULL shingle stream keyed by doc — 2×204 MB of the k=128
    pipeline's 1.0 GB shuffle at 300k docs, and the dominant term at
    100 TB where the shingle stream is petabyte-shaped while candidates
    stay bounded.  ``pairs`` is persisted here (it feeds the broadcast
    build plus two joins); pass ``cache_registry`` to receive it for
    unpersisting once the result is materialized."""
    pairs = pairs.persist()
    if cache_registry is not None:
        cache_registry.append(pairs)
    cand_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = sh.join(F.broadcast(cand_docs), "doc_id", "left_semi")
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        pairs.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"], "left_semi")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter_size"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    jac = F.col("inter_size").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("inter_size")
    )
    joined = (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .na.fill({"inter_size": 0})
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("size_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("size_b")), "doc_b")
    )
    if min_jaccard is not None:
        joined = joined.where(jac >= min_jaccard)
    return joined.select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))


def lsh_near_dup_pairs(
    docs: DataFrame,
    n_hashes: int = 128,
    threshold: float = 0.5,
    shingle: int = SHINGLE,
    bands: int | None = None,
) -> DataFrame:
    """Production-scale MinHash-LSH near-dup detection: (doc_a, doc_b,
    jaccard) for candidate pairs, exact-verified, jaccard ≥ threshold.

    Defaults (128 hashes, threshold-tuned banding) are corpus-scale
    parameters; the driver entry ``dedup_lsh_pairs`` runs this same
    pipeline at the oracle-checkable toy size (8 hashes, 4×2 bands,
    unthresholded).

    The result is materialized eagerly (small pair table) so the persisted
    intermediates — the shingle stream and the band table — can be
    released before returning; repeated jobs in one session don't
    accumulate cached corpus-sized plans."""
    if bands is None:
        bands, rows = lsh_params_for_threshold(threshold, n_hashes)
    else:
        assert n_hashes % bands == 0
        rows = n_hashes // bands
    # the shingle stream feeds FOUR consumers (minhash, both sides of the
    # intersection join, set sizes); without a persist each one re-runs
    # tokenize+explode over the corpus — .explain showed 4 duplicated
    # scan subtrees.  MEMORY_AND_DISK: spills rather than recomputes.
    sh = shingles_of(docs, shingle).persist()
    cached: list[DataFrame] = [sh]
    pairs = lsh_candidate_pairs(sh, n_hashes, bands, rows, cache_registry=cached)
    return _finish(
        verify_pairs_jaccard(sh, pairs, min_jaccard=threshold, cache_registry=cached),
        *cached,
    )


@q(
    "dedup_minhash_signatures",
    f"""
    WITH {_SHINGLES_SQL}, {_MINHASH_SQL}
    SELECT doc_id,
           string_agg(minhash::VARCHAR, ',' ORDER BY j) AS signature
    FROM mh GROUP BY doc_id
    """,
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature (k=8) per doc: shingle → k seeded hashes → min per
    seed, concatenated map-side off the wide aggregate row
    (:func:`_sig_concat_wide` — one shuffle total, same lesson as the
    banding fuse).  The affine-map family makes both engines compute
    identical signatures without engine-native hash functions."""
    wide = _minhash_wide(_shingles(spark, sf_dir), N_HASHES)
    return wide.select("doc_id", _sig_concat_wide(N_HASHES).alias("signature"))


@q(
    "dedup_lsh_pairs",
    f"""
    WITH {_SHINGLES_SQL}, {_MINHASH_SQL},
    bands AS (
      SELECT doc_id, j // {ROWS_PER_BAND} AS band,
             {portable_hash60_sql("string_agg(minhash::VARCHAR, ',' ORDER BY j)")} AS sig
      FROM mh GROUP BY doc_id, j // {ROWS_PER_BAND}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT p.doc_a, p.doc_b, count(*) AS inter_size
      FROM pairs p JOIN shingles sa ON sa.doc_id = p.doc_a
      WHERE EXISTS (SELECT 1 FROM shingles sb
                    WHERE sb.doc_id = p.doc_b AND sb.shingle = sa.shingle)
      GROUP BY p.doc_a, p.doc_b
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id)
    SELECT p.doc_a, p.doc_b,
           round(coalesce(i.inter_size, 0)::DOUBLE
                 / (sa.sz + sb.sz - coalesce(i.inter_size, 0)), 6) AS jaccard
    FROM pairs p
    LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    """,
)
def dedup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding → candidate pairs sharing any band → exact
    shingle-Jaccard verification of candidates only.  Oracle-checkable toy
    parameters (8 hashes, 4 bands of 2, no threshold); the production path
    is :func:`lsh_near_dup_pairs` (128 hashes, threshold-tuned banding),
    same pipeline functions.  The shingle stream feeds four consumers, so
    it is persisted exactly as in the production path — without it the
    tokenize+explode subtree re-ran per consumer (bench showed a 4-5×
    wall swing on this entry)."""
    sh = _shingles(spark, sf_dir).persist()
    cached: list[DataFrame] = [sh]
    pairs = lsh_candidate_pairs(sh, N_HASHES, BANDS, ROWS_PER_BAND, cache_registry=cached)
    return _finish(verify_pairs_jaccard(sh, pairs, cache_registry=cached), *cached)


PROD_N_HASHES = 128
PROD_THRESHOLD = 0.5
_PROD_BANDS, _PROD_ROWS = 32, 4  # lsh_params_for_threshold(0.5, 128)

_MINHASH_PROD_SQL = _minhash_sql(PROD_N_HASHES)


@q(
    "dedup_lsh_near_dup",
    f"""
    WITH {_SHINGLES_SQL}, {_MINHASH_PROD_SQL},
    bands AS (
      SELECT doc_id, j // {_PROD_ROWS} AS band,
             {portable_hash60_sql("string_agg(minhash::VARCHAR, ',' ORDER BY j)")} AS sig
      FROM mh GROUP BY doc_id, j // {_PROD_ROWS}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT p.doc_a, p.doc_b, count(*) AS inter_size
      FROM pairs p JOIN shingles sa ON sa.doc_id = p.doc_a
      WHERE EXISTS (SELECT 1 FROM shingles sb
                    WHERE sb.doc_id = p.doc_b AND sb.shingle = sa.shingle)
      GROUP BY p.doc_a, p.doc_b
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id)
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT p.doc_a, p.doc_b,
             round(coalesce(i.inter_size, 0)::DOUBLE
                   / (sa.sz + sb.sz - coalesce(i.inter_size, 0)), 6) AS jaccard,
             coalesce(i.inter_size, 0)::DOUBLE
                   / (sa.sz + sb.sz - coalesce(i.inter_size, 0)) AS jraw
      FROM pairs p
      LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
      JOIN sizes sa ON sa.doc_id = p.doc_a
      JOIN sizes sb ON sb.doc_id = p.doc_b
    ) WHERE jraw >= {PROD_THRESHOLD}
    """,
)
def dedup_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION LSH path as a driver-checked entry: 128 hashes,
    threshold-tuned 32x4 banding, exact-verified and thresholded — the
    exact :func:`lsh_near_dup_pairs` defaults, hash-matched against a full
    DuckDB twin (the md5-derived portable hash makes even the 128 minhash
    lanes SQL-expressible)."""
    docs = load(spark, sf_dir, "documents")
    return lsh_near_dup_pairs(
        docs, n_hashes=PROD_N_HASHES, threshold=PROD_THRESHOLD
    )


SHINGLE_DF_CAP = 10  # pair-generation prune: ignore shingles in > CAP docs
JACCARD_MIN = 0.5


_NGRAM_JACCARD_SQL = f"""
    WITH {_SHINGLES_SQL},
    rare AS (
      SELECT shingle FROM shingles GROUP BY shingle
      HAVING count(*) BETWEEN 2 AND {SHINGLE_DF_CAP}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM shingles a JOIN rare r ON a.shingle = r.shingle
      JOIN shingles b ON b.shingle = a.shingle AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT p.doc_a, p.doc_b, count(*) AS inter_size
      FROM pairs p JOIN shingles sa ON sa.doc_id = p.doc_a
      WHERE EXISTS (SELECT 1 FROM shingles sb
                    WHERE sb.doc_id = p.doc_b AND sb.shingle = sa.shingle)
      GROUP BY p.doc_a, p.doc_b
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id)
    SELECT i.doc_a, i.doc_b,
           round(i.inter_size::DOUBLE
                 / (sa.sz + sb.sz - i.inter_size), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE i.inter_size::DOUBLE / (sa.sz + sb.sz - i.inter_size) >= {JACCARD_MIN}
    """


def ngram_candidate_pairs(
    sh: DataFrame, df_cap: int = SHINGLE_DF_CAP, heavy_fallback: bool = True
) -> DataFrame:
    """Inverted-index candidate generation with a frequency-cap prune:

    - *rare* shingles (2 ≤ df ≤ ``df_cap``) pair-join fully — at most
      df² pairs per shingle, bounded by the cap;
    - *heavy* shingles (df > ``df_cap``), when ``heavy_fallback`` is on,
      emit a STAR of pairs (the shingle's min doc_id vs. every other
      holder) — linear in df, so a boilerplate shingle shared by 10⁶
      docs costs 10⁶ candidate rows, not 10¹².

    Without the fallback a doc duplicated in a cluster larger than the
    cap has ALL its shingles above the cap and silently yields zero
    pairs — the fallback surfaces such clusters (every member pairs with
    the cluster's hub doc; exact verification then scores each pair).
    """
    sdf = sh.groupBy("shingle").agg(F.count("*").alias("sdf"))
    rare = sdf.where((F.col("sdf") >= 2) & (F.col("sdf") <= df_cap)).select("shingle")
    sh_rare = sh.join(rare, "shingle", "left_semi")
    pairs = (
        sh_rare.alias("a")
        .join(
            sh_rare.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    if heavy_fallback:
        heavy = sdf.where(F.col("sdf") > df_cap).select("shingle")
        sh_heavy = sh.join(heavy, "shingle", "left_semi")
        hubs = sh_heavy.groupBy("shingle").agg(F.min("doc_id").alias("hub"))
        star = (
            sh_heavy.join(F.broadcast(hubs), "shingle")
            .where(F.col("doc_id") != F.col("hub"))
            .select(
                F.least("hub", "doc_id").alias("doc_a"),
                F.greatest("hub", "doc_id").alias("doc_b"),
            )
        )
        pairs = pairs.unionByName(star)
    return pairs.distinct()


def ngram_jaccard_pairs(
    docs: DataFrame,
    shingle: int = SHINGLE,
    df_cap: int = SHINGLE_DF_CAP,
    jaccard_min: float = JACCARD_MIN,
    heavy_fallback: bool = True,
) -> DataFrame:
    """Production n-gram-Jaccard near-dup pairs: candidate generation via
    :func:`ngram_candidate_pairs`, then exact Jaccard over FULL shingle
    sets, thresholded at ``jaccard_min``.  The deterministic counterpart
    of the probabilistic :func:`lsh_near_dup_pairs`."""
    sh = shingles_of(docs, shingle).persist()  # 5 consumers, one tokenize
    cached: list[DataFrame] = [sh]
    pairs = ngram_candidate_pairs(sh, df_cap, heavy_fallback)
    return _finish(
        verify_pairs_jaccard(sh, pairs, min_jaccard=jaccard_min, cache_registry=cached),
        *cached,
    )


@q("dedup_ngram_jaccard", _NGRAM_JACCARD_SQL)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle entry: :func:`ngram_jaccard_pairs` WITHOUT the heavy-shingle
    star fallback, mirroring the SQL twin above (rare-shingle pair
    generation only).  Known blind spot of this variant — documented, and
    closed by the production default ``heavy_fallback=True``: a doc
    duplicated in a cluster of more than ``SHINGLE_DF_CAP`` docs has all
    its shingles above the cap and emits no pairs.
    """
    docs = load(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, heavy_fallback=False)


SIMHASH_BITS = 32

# frequency weighting is implicit: summing ±1 per token OCCURRENCE equals
# summing ±tf per distinct token, so no (doc, token) pre-aggregation needed
_SIMHASH_ACC_SQL = ",\n           ".join(
    f"sum(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END)::BIGINT AS a{b}"
    for b in range(SIMHASH_BITS)
)
_SIMHASH_EXPR_SQL = "\n           + ".join(
    f"(CASE WHEN a{b} > 0 THEN (1::BIGINT << {b}) ELSE 0::BIGINT END)"
    for b in range(SIMHASH_BITS)
)


@q(
    "dedup_simhash",
    f"""
    WITH tok AS (
      SELECT doc_id, {portable_hash32_sql("t.token")} AS h
      FROM documents, unnest(string_split_regex(trim(text), '\\s+')) AS t(token)
      WHERE t.token <> ''
    ),
    acc AS (
      SELECT doc_id,
           {_SIMHASH_ACC_SQL}
      FROM tok GROUP BY doc_id
    )
    SELECT doc_id,
           ({_SIMHASH_EXPR_SQL})::BIGINT AS simhash
    FROM acc
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per doc from token-frequency-weighted hash bits; at
    scale near-dup pair generation groups by simhash band, as with LSH.

    Single-pass plan: all 32 bit-accumulators are independent ``sum``
    aggregates of one ``groupBy(doc_id)`` (map-side partial agg, one
    shuffle of the token stream, no row amplification — the previous
    crossJoin-with-a-bits-table form pushed 32× the token stream through
    the shuffle)."""
    docs = load(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"))
        .where("token <> ''")
        .select("doc_id", portable_hash32(F.col("token")).alias("h"))
    )
    accs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"a{b}")
        for b in range(SIMHASH_BITS)
    ]
    acc = tok.groupBy("doc_id").agg(*accs)
    sim = None
    for b in range(SIMHASH_BITS):
        bit = (
            F.when(F.col(f"a{b}") > 0, F.lit(1 << b).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        sim = bit if sim is None else sim + bit
    return acc.select("doc_id", sim.alias("simhash"))


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup: feature-hashed bag-of-words embedding +
# sign-LSH candidate bucketing + exact cosine verification.

EMB_DIMS = 64  # feature-hash embedding width
EMB_PLANES = 8  # sign-LSH planes for candidate generation (≤256 buckets)
EMB_COS_MIN = 0.98  # near-dup cosine threshold


def _emb_plane_weights(planes: int = EMB_PLANES, dims: int = EMB_DIMS) -> list[list[float]]:
    """±1 hyperplane weights, deterministic from the md5 parity of
    ``"j:dim"`` — the same derivation as ``similarity.ann_lsh_topk`` and
    the DuckDB oracle, computed driver-side so the bucket expression is a
    pure Catalyst literal (no plane-generation job, no crossJoin)."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"{j}:{d}".encode()).hexdigest()[:8], 16) & 1 else -1.0
            for d in range(dims)
        ]
        for j in range(planes)
    ]


def doc_embeddings(docs: DataFrame, dims: int = EMB_DIMS) -> DataFrame:
    """Feature-hashed bag-of-words embedding per document: each token
    lands in dim ``portable_hash32(token) % dims``; the vector is the
    per-dim occurrence count.  Map-only — the whole doc is one row, so no
    explode and no shuffle; counts are integers, so every downstream dot
    product / norm² is exact in double and the DuckDB oracle agrees
    bit-for-bit (no summation-order rounding)."""
    toks = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != "")
    tok_dims = F.transform(
        toks, lambda t: F.pmod(portable_hash32(t), F.lit(dims)).cast("int")
    )
    # fold-with-transform: one pass over the dim array, measured 9×
    # faster than the count-by-filter-per-dim alternative (higher-order
    # lambdas get no common-subexpression elimination, so per-dim
    # filters re-hash every token)
    vec = F.aggregate(
        tok_dims,
        F.array_repeat(F.lit(0).cast("long"), dims),
        lambda acc, d: F.transform(acc, lambda v, i: v + F.when(d == i, 1).otherwise(0)),
    )
    return docs.select("doc_id", vec.alias("v"))


def _emb_bucket(vec_col, planes: int = EMB_PLANES, dims: int = EMB_DIMS):
    """Sign-LSH bucket id from literal ±1 planes: bit_j = <v, w_j> > 0,
    packed MSB-first.  One codegen'd expression, map-only."""
    bucket = F.lit(0).cast("long")
    for j, w in enumerate(_emb_plane_weights(planes, dims)):
        warr = F.array(*[F.lit(x) for x in w])
        dot = F.aggregate(
            F.zip_with(vec_col, warr, lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(
            dot > 0, F.lit(1 << (planes - 1 - j)).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return bucket


def embedding_near_dup_pairs(
    docs: DataFrame,
    dims: int = EMB_DIMS,
    planes: int = EMB_PLANES,
    cos_min: float = EMB_COS_MIN,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: only docs sharing a sign-LSH
    bucket are pair-joined, then verified by exact cosine ≥ ``cos_min``.
    The quadratic step never sees the corpus — only bucket-mates.

    Scale knob: ``planes`` bounds the bucket count at 2^planes; 8 planes
    (the oracle-checked default, matching ``similarity.LSH_PLANES``) is a
    256-bucket toy partition — production at corpus scale raises it
    (16-24 planes, or multi-band OR-construction for recall) exactly as
    ``lsh_params_for_threshold`` does for MinHash banding.  LSH recall
    < 1 by construction: at sf0.01 the buckets capture 21 of the 24
    cosine≥0.98 pairs while pruning candidate pairs 27×."""
    # the embedding/bucket stage is map-heavy CPU work: if the source
    # arrived under-split (one small parquet file → one partition),
    # spread it across the executors first
    par = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    emb = doc_embeddings(docs, dims)

    def _norm(c):
        return F.sqrt(
            F.aggregate(
                c, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
            )
        )

    # norm rides as a column and the bucketed stream is persisted AND
    # eagerly materialized: the self-join consumes it twice, and a lazy
    # persist lets both join sides race to populate the cache — each
    # re-tokenizing, re-hashing, and re-bucketing the whole corpus
    bucketed = emb.select(
        "doc_id",
        "v",
        _emb_bucket(F.col("v"), planes, dims).alias("bucket"),
        _norm(F.col("v")).alias("nrm"),
    ).persist()
    bucketed.count()
    dot = F.aggregate(
        F.zip_with(
            F.col("a.v"), F.col("b.v"), lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # try_divide: under Spark 4's default ANSI mode a plain division
    # THROWS when both docs are zero-token (nrm 0), before the _nn > 0
    # filter below ever sees the row; try_divide yields null instead
    cosine = F.round(F.try_divide(dot, F.col("a.nrm") * F.col("b.nrm")), 6)
    out = (
        bucketed.alias("a")
        .join(
            bucketed.alias("b"),
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            cosine.alias("cosine"),
            (F.col("a.nrm") * F.col("b.nrm")).alias("_nn"),
        )
        # _nn > 0 excludes zero-token docs explicitly: their try_divide
        # cosine is null, and the belt-and-braces guard keeps the intent
        # visible even if the null comparison semantics ever change
        .where((F.col("_nn") > 0) & (F.col("cosine") >= cos_min))
        .drop("_nn")
    )
    return _finish(out, bucketed)


_EMB_H = portable_hash32_sql


@q(
    "dedup_embedding_pairs",
    f"""
    WITH tok AS (
      SELECT doc_id, t.token AS t
      FROM documents, unnest(string_split_regex(trim(text), '\\s+')) AS t(token)
      WHERE t.token <> ''
    ),
    counts AS (
      SELECT doc_id, {_EMB_H('t')} % {EMB_DIMS} AS dim, count(*)::BIGINT AS c
      FROM tok GROUP BY 1, 2
    ),
    grid AS (
      SELECT d.doc_id, r.range::BIGINT AS dim
      FROM (SELECT DISTINCT doc_id FROM documents) d, range({EMB_DIMS}) r
    ),
    vec AS (
      SELECT g.doc_id, list(coalesce(c.c, 0) ORDER BY g.dim) AS v
      FROM grid g LEFT JOIN counts c ON g.doc_id = c.doc_id AND g.dim = c.dim
      GROUP BY g.doc_id
    ),
    pg AS (
      SELECT p.range::INT AS j, r.range::INT AS dim,
             CASE WHEN {_EMB_H("p.range::VARCHAR || ':' || r.range::VARCHAR")} & 1 = 1
                  THEN 1.0 ELSE -1.0 END AS w
      FROM range({EMB_PLANES}) p, range({EMB_DIMS}) r
    ),
    planes AS (SELECT j, list(w ORDER BY dim) AS w FROM pg GROUP BY j),
    bits AS (
      SELECT v.doc_id, p.j,
             CASE WHEN list_dot_product(v.v::DOUBLE[], p.w) > 0 THEN 1 ELSE 0 END AS bit
      FROM vec v, planes p
    ),
    buckets AS (
      SELECT doc_id, sum(bit << ({EMB_PLANES - 1} - j))::BIGINT AS bucket
      FROM bits GROUP BY doc_id
    )
    SELECT * FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             round(list_dot_product(a.v::DOUBLE[], b.v::DOUBLE[])
                   / (sqrt(list_dot_product(a.v::DOUBLE[], a.v::DOUBLE[]))
                      * sqrt(list_dot_product(b.v::DOUBLE[], b.v::DOUBLE[]))), 6)
               AS cosine
      FROM vec a
      JOIN vec b ON a.doc_id < b.doc_id
      JOIN buckets ba ON ba.doc_id = a.doc_id
      JOIN buckets bb ON bb.doc_id = b.doc_id AND ba.bucket = bb.bucket
      WHERE list_dot_product(a.v::DOUBLE[], a.v::DOUBLE[]) > 0
        AND list_dot_product(b.v::DOUBLE[], b.v::DOUBLE[]) > 0
    ) WHERE cosine >= {EMB_COS_MIN}
    """,
)
def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup over ``documents`` (the brief's fifth
    dedup modality, alongside exact / MinHash+LSH / SimHash / n-gram
    Jaccard): deterministic feature-hash embedding, sign-LSH candidate
    buckets, exact-cosine verification."""
    docs = load(spark, sf_dir, "documents")
    return embedding_near_dup_pairs(docs)


# ---------------------------------------------------------------------------
# Connected components over the near-dup pair graph: the last step of a
# dedup pipeline — turn pairwise matches into cluster assignments so one
# canonical doc per cluster survives.


def connected_components(pairs: DataFrame, a: str = "doc_a", b: str = "doc_b") -> DataFrame:
    """Min-label propagation to fixpoint over an undirected pair graph →
    ``(doc_id, cluster_id)`` with ``cluster_id`` = the smallest doc_id in
    the component (deterministic at any parallelism).

    Each iteration is one shuffle (edge⋈label + min-agg); lineage is cut
    per iteration with an eager ``localCheckpoint`` (the PageRank-loop
    pattern, ``plans/pagerank.py``).  Iterations ~ graph diameter — near-dup
    components are shallow (stars around a template doc), so this
    converges in a handful of rounds.  At 10^12-doc scale the same
    fixpoint is reached in O(log d) rounds with the alternating
    large-star/small-star rewrite (Kiveris et al., "Connected Components
    in MapReduce and Beyond", SoCC 2014); the propagation loop here keeps
    the oracle-checkable form simple.
    """
    edges = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst")).union(
        pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    )
    edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint(eager=True)
    )
    while True:
        prop = edges.join(labels, edges.src == labels.node).select(
            F.col("dst").alias("node"), F.col("lbl")
        )
        new = (
            labels.select("node", "lbl")
            .union(prop)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint(eager=True)
        )
        improved = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.lbl") < F.col("o.lbl"))
            .limit(1)
            .count()
        )
        labels = new
        if improved == 0:
            return labels.select(
                F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id")
            )


def _register_components_oracle() -> None:
    """DuckDB twin: transitive min-label reachability as a recursive CTE
    over the same LSH pair query (UNION-dedup guarantees termination)."""
    pairs_sql = ORACLE["dedup_lsh_pairs"]
    ORACLE["dedup_components"] = f"""
    WITH RECURSIVE pairs_q AS ({pairs_sql}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs_q
      UNION ALL
      SELECT doc_b, doc_a FROM pairs_q
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach AS (
      SELECT node, node AS lbl FROM nodes
      UNION
      SELECT e.dst AS node, r.lbl FROM edges e JOIN reach r ON r.node = e.src
    )
    SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node
    """


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment: LSH candidate pairs (the oracle-checked
    toy-parameter pipeline) → connected components → (doc_id, cluster_id)."""
    pairs = dedup_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components(pairs)


QUERIES["dedup_components"] = dedup_components
_register_components_oracle()
