"""Deduplication operators for training-data pipelines.

SURVEY.md §2.3 rows L1 (exact content-hash dedup), L2 (MinHash-LSH
near-dup), plus n-gram Jaccard pair mining. The documents fixture is
the target corpus.

Scale design: exact dedup is one shuffle on the fingerprint; Jaccard
pair mining and MinHash-LSH both shuffle on the shingle/bucket key so
no pairwise comparison ever leaves a bounded candidate bucket (the
brute-force all-pairs form is never materialized).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import table
from ..registry import query
from ..session import iter_checkpoint
from .skew import fan_out
from .text import FINGERPRINT_SQL, TOKENS_SQL, fingerprint, tokens

# ---------------------------------------------------------------------------
# L1 exact dedup: canonical-id assignment by content fingerprint.
# ---------------------------------------------------------------------------

_Q13_ORACLE = f"""
WITH fp AS (SELECT doc_id, {FINGERPRINT_SQL} AS f FROM documents)
SELECT
  doc_id,
  MIN(doc_id) OVER (PARTITION BY f) AS canonical_id,
  doc_id <> MIN(doc_id) OVER (PARTITION BY f) AS is_duplicate
FROM fp
ORDER BY doc_id
"""


@query("q18_exact_dedup", oracle=_Q13_ORACLE, tags=("L1", "dedup", "bench"))
def q18_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: every document mapped to the smallest doc_id
    sharing its content fingerprint (survivor), flagged if duplicate.

    One shuffle on the 128-bit fingerprint; group sizes are tiny by
    construction, so no skew risk at 100 TB. The shuffle key is the
    md5 UNHEXED to 16 binary bytes (round 9): the fingerprint never
    appears in the output, so any bijection of it groups identically,
    and halving the key bytes halves the dominant shuffle's payload —
    the A/B and the variance attribution live in BENCHMARKS.md.
    """
    d = table(spark, sf_dir, "documents")
    fp = d.select("doc_id", F.unhex(fingerprint("text")).alias("f"))
    w = Window.partitionBy("f")
    return fp.select(
        "doc_id",
        F.min("doc_id").over(w).alias("canonical_id"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_duplicate"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Word-shingle helpers (shared by Jaccard + MinHash).
# ---------------------------------------------------------------------------

SHINGLE_SIZE = 3


def shingles(toks: Column | str, k: int = SHINGLE_SIZE) -> Column:
    """Distinct word k-gram shingles from a token array."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        )
    )


SHINGLES_SQL = (
    f"list_distinct(list_transform(range(0, len(toks) - {SHINGLE_SIZE - 1}),"
    f" i -> array_to_string(toks[i + 1 : i + {SHINGLE_SIZE}], ' ')))"
)

# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup pair mining (oracle-checkable form of L2).
# ---------------------------------------------------------------------------

_JACCARD_THRESHOLD = 0.2

# Stop-shingle guard: shingles whose document frequency exceeds this are
# dropped before the inverted-index self-join. One ultra-frequent shingle
# ("all rights reserved", chapter boilerplate) otherwise creates a
# quadratic bucket — df=1M → 10^12 pairs from a single key. Dropping it
# loses no near-dup signal: a shingle shared by half the corpus carries
# ~0 bits about any specific pair. Per-document shingle counts are taken
# AFTER the drop on BOTH engines, so the Jaccard estimate stays a true
# Jaccard over the reduced shingle universe and the differential check
# stays exact even when the guard fires.
STOP_SHINGLE_DF = 500

_SHK_SQL = f"""
t AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
      WHERE len({TOKENS_SQL}) >= {SHINGLE_SIZE}),
sh AS (SELECT doc_id, unnest({SHINGLES_SQL}) AS shingle FROM t),
hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > {STOP_SHINGLE_DF}),
shk AS (SELECT doc_id, shingle FROM sh ANTI JOIN hot USING (shingle)),
counts AS (SELECT doc_id, COUNT(*) AS n FROM shk GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
"""

_Q14_ORACLE = f"""
WITH {_SHK_SQL}
SELECT doc_a, doc_b, shared,
  CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) AS jaccard
FROM pairs
JOIN counts ca ON doc_a = ca.doc_id
JOIN counts cb ON doc_b = cb.doc_id
WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= {_JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


@query("q64_ngram_jaccard", oracle=_Q14_ORACLE, tags=("L2", "dedup"))
def q64_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by word-3-gram Jaccard similarity ≥ 0.2.

    The pair generation is an equi-join on the shingle key (inverted
    index), NOT an all-pairs comparison — pairs only materialize for
    documents that share at least one shingle. The join shape beats
    ``bucket_pairs`` here: the upstream is a map-only explode (cheap
    to compute on both sides), and the streamed join avoids
    materializing per-shingle pair arrays.

    Stop-shingle guard (the 100 TB survival condition for this join):
    shingles with document frequency > STOP_SHINGLE_DF are anti-joined
    away before the self-join, killing the one quadratic bucket a hot
    boilerplate shingle would otherwise create. The hot list is tiny
    by construction (≤ total_occurrences / threshold keys), so Spark
    broadcasts it; the oracle mirrors the guard exactly.
    """
    return _jaccard_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q64's pair mining WITHOUT the presentation sort — consumed by
    q67's connected components, whose eager checkpoint would otherwise
    materialize (and pay for) a corpus-pair-sized global sort that the
    clustering immediately discards."""
    d = fan_out(table(spark, sf_dir, "documents"))
    t = d.select("doc_id", tokens("text").alias("toks")).filter(
        F.size("toks") >= SHINGLE_SIZE
    )
    sh = t.select("doc_id", F.explode(shingles("toks")).alias("shingle"))
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > STOP_SHINGLE_DF)
        .select("shingle")
    )
    sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    ca = counts.alias("ca")
    cb = counts.alias("cb")
    jaccard = F.col("shared").cast("double") / (
        F.col("ca.n") + F.col("cb.n") - F.col("shared")
    )
    return (
        pairs.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .filter(jaccard >= _JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "shared", jaccard.alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# L2 MinHash + LSH banding — fully oracle-checked. The hash family is
# the textbook affine family over a 31-bit base hash: h_i = (A_i*h +
# B_i) mod (2^31-1), one md5 per shingle, per-i constants A_i/B_i fixed
# below (NOT h1 + i*h2 — a linear family shares its minimizer across
# all i, collapsing the estimator). Every operation is bit-identical in
# DuckDB ('0x'||hex → BIGINT). tests/test_dedup.py additionally pins
# recall: every q64 pair with jaccard ≥ 0.5 must surface here.
# ---------------------------------------------------------------------------

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
_MH_P = (1 << 31) - 1  # Mersenne prime; A_i*h stays inside int64
# Deterministic per-function constants (Knuth multiplicative + LCG
# increments, reduced mod p; A_i forced odd and nonzero).
MINHASH_A = tuple((i * 2654435761 + 1) % _MH_P | 1 for i in range(N_HASHES))
MINHASH_B = tuple((i * 40503 + 12345) % _MH_P for i in range(N_HASHES))


# Stop-bucket guard: LSH buckets larger than this are dropped before any
# membership array is collected. On duplicate-heavy corpora (boilerplate,
# mass-replicated pages) one band hash can attract millions of documents;
# the pairs inside such a bucket are quadratic noise (everything matches
# everything) and the collected array would concentrate the blow-up in a
# single task's memory. 1000 members still yields ~500k candidate pairs
# per bucket — far beyond any useful near-dup signal.
MAX_BUCKET_MEMBERS = 1000


def bucket_pairs(
    df: DataFrame,
    keys: list[str],
    id_col: str,
    *payload: str,
    max_bucket: int = MAX_BUCKET_MEMBERS,
) -> DataFrame:
    """All i<j member pairs within each bucket, without a self-join.

    groupBy the bucket key, collect the membership (array_sort on the
    (id, payload) struct gives a deterministic pair orientation),
    explode the upper triangle via array HOFs. The bucket size bounds
    the quadratic term exactly as a join-on-bucket-key formulation
    would, but the input pipeline is computed once and the only
    shuffle is on the bucket key — the join shape computes its whole
    upstream on both sides (exchange reuse does not fire across join
    branches) and tempts AQE into broadcasting a derived table whose
    size grows with the corpus.

    Hot-bucket memory guard: bucket sizes are measured with a window
    count over the same partition key BEFORE collect_list, and buckets
    above ``max_bucket`` are dropped entirely. The window operator
    spills to disk (UnsafeExternalSorter), so a pathological bucket
    never has to fit in memory — unlike a collect_list buffer, which
    cannot spill a single group's array. Window + groupBy share one
    hash partitioning on ``keys``, so the guard adds no extra shuffle
    and the upstream is still computed exactly once. Callers' oracle
    SQL mirrors the guard (HAVING COUNT(*) <= max_bucket), keeping the
    differential check exact even when the guard fires.

    Output: columns ``a`` and ``b``, structs of (id_col, *payload),
    with a.id < b.id.
    """
    member = F.struct(id_col, *payload)
    w = Window.partitionBy(*keys)
    bounded = (
        df.withColumn("__n", F.count(F.lit(1)).over(w))
        .filter((F.col("__n") > 1) & (F.col("__n") <= max_bucket))
        .drop("__n")
    )
    buckets = (
        bounded.groupBy(*keys)
        .agg(F.array_sort(F.collect_list(member)).alias("__m"))
        .filter(F.size("__m") > 1)
    )
    n = F.size("__m")
    return buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), n - 2),
                    lambda i: F.transform(
                        F.slice("__m", i + 2, n),
                        lambda right: F.struct(
                            F.element_at("__m", i + 1).alias("a"),
                            right.alias("b"),
                        ),
                    ),
                )
            )
        ).alias("__p")
    ).select("__p.a", "__p.b")


def minhash_signatures(tokenized: DataFrame) -> DataFrame:
    """(doc_id, toks) → (doc_id, sig) fixed-length MinHash signature.

    ZERO shuffles: the whole signature is one map-only Arrow kernel
    over ``mapInPandas`` — per document, build the word 3-gram
    shingles, md5 each (hashlib md5 == Spark/DuckDB md5 on the same
    UTF-8 bytes; first 15 hex digits as an integer == the oracle's
    CAST('0x'||substr(md5,1,15) AS BIGINT)), then take the min of the
    N_HASHES affine rehashes as one (16, n_shingles) int64 numpy
    broadcast + ``minimum.reduceat`` over the per-doc boundaries.
    Every operation is exact integer arithmetic (A·h < 2^62), so the
    signatures are bit-identical to the oracle's SQL formulation.
    Rows with fewer than SHINGLE_SIZE tokens produce NO output row
    (zero shingles have no minimum; every registered caller filters
    them out beforehand).

    Formulation history, slowest first: explode+per-hash groupBy
    (~40× slower at sf0.1), explode+single-groupBy-of-16-mins (~1.3×
    slower), round-3's all-JVM higher-order-lambda projection — whose
    cost turned out to be ~95% SHINGLE CONSTRUCTION (each interpreted
    ``transform`` element copies a slice and re-concats; measured
    5.49 s of the 5.72 s signature stage at sf5) — and this kernel
    (3.6 s at sf5, ~1.6×: the Python md5 loop costs ~1 µs/shingle
    and the affine mins are one numpy broadcast, vs an interpreted
    lambda per shingle element). ``array_distinct`` in the expression form is
    dropped here: duplicate shingles cannot change a min. Map-only
    also means the operator inherits the scan's partitioning at
    cluster scale — nothing to re-shuffle no matter the corpus size.
    """
    import numpy as np
    import pandas as pd

    def sig_kernel(batches):
        from hashlib import md5 as _md5

        a = np.array(MINHASH_A, dtype=np.int64)[:, None]
        b = np.array(MINHASH_B, dtype=np.int64)[:, None]
        for pdf in batches:
            if not len(pdf):
                continue
            all_h: list[int] = []
            offsets = [0]
            keep = []
            for j, toks in enumerate(pdf["toks"]):
                toks = list(toks)
                if len(toks) < SHINGLE_SIZE:
                    # Zero shingles → no signature. Callers filter
                    # size(toks) >= SHINGLE_SIZE; this guard keeps the
                    # helper's contract safe anyway — without it a
                    # zero-shingle doc mid-batch would make reduceat
                    # silently return the NEXT doc's first hash as
                    # this doc's signature (or raise at batch end).
                    continue
                keep.append(j)
                all_h.extend(
                    int(
                        _md5(
                            " ".join(toks[i : i + SHINGLE_SIZE]).encode()
                        ).hexdigest()[:15],
                        16,
                    )
                    for i in range(len(toks) - SHINGLE_SIZE + 1)
                )
                offsets.append(len(all_h))
            if not keep:
                continue
            h = np.array(all_h, dtype=np.int64) % _MH_P
            v = (a * h[None, :] + b) % _MH_P  # (N_HASHES, total)
            # int32 at rest: every value is mod (2^31 - 1), so the
            # narrow type is exact. sig is the DOMINANT payload of the
            # LSH bucket shuffle (N_HASHES values per (doc, band) row
            # — 4 copies of the signature per doc), so halving the
            # element width halves the bucket exchange's bytes and the
            # Arrow boundary (guide §2.3 "narrower types").
            sigs = np.minimum.reduceat(
                v, np.array(offsets[:-1]), axis=1
            ).astype(np.int32)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].iloc[keep].to_numpy(),
                    "sig": [sigs[:, j].tolist() for j in range(len(keep))],
                }
            )

    return tokenized.select("doc_id", "toks").mapInPandas(
        sig_kernel, "doc_id long, sig array<int>"
    )


_MINHASH_SIG_SQL = f"""
t AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
      WHERE len({TOKENS_SQL}) >= {SHINGLE_SIZE}),
sh AS (SELECT doc_id, unnest({SHINGLES_SQL}) AS shingle FROM t),
hashed AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % {_MH_P} AS h
  FROM sh
),
sigs AS (
  SELECT doc_id,
    [{', '.join(f'MIN(({MINHASH_A[s]} * h + {MINHASH_B[s]}) % {_MH_P})' for s in range(N_HASHES))}] AS sig
  FROM hashed GROUP BY doc_id
)
"""

def docs_to_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, sig): tokenize, drop documents too
    short to shingle, MinHash — the shared front of every LSH
    consumer (q27 one-shot, the incremental operator)."""
    t = docs.select("doc_id", tokens("text").alias("toks")).filter(
        F.size("toks") >= SHINGLE_SIZE
    )
    return minhash_signatures(t)


def lsh_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, sig) → one row per (doc_id, band) with the band hash:
    md5 over the band's signature slice. The (band, bh) pair is the
    LSH bucket key; this layout IS the at-rest index schema the
    incremental operator stores."""
    return sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(
                                    "sig",
                                    b * ROWS_PER_BAND + 1,
                                    F.lit(ROWS_PER_BAND),
                                ),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("bh"),
                ),
            )
        ).alias("bb"),
    ).select(
        "doc_id", "sig", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )


def estimate_pairs(pairs: DataFrame) -> DataFrame:
    """(a, b) member-struct pairs → (doc_a, doc_b, est_jaccard) with
    the signature-match estimate, cross-band deduplicated, totally
    ordered. N_HASHES static positional comparisons on purpose — see
    the q27 docstring for the codegen/JIT story."""
    matches = sum(
        (F.col("a.sig").getItem(s) == F.col("b.sig").getItem(s)).cast("int")
        for s in range(N_HASHES)
    )
    est = matches.cast("double") / N_HASHES
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            est.alias("est_jaccard"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .orderBy("doc_a", "doc_b")
    )


_Q15_ORACLE = f"""
WITH {_MINHASH_SIG_SQL},
bands AS (
  SELECT doc_id, sig, b,
    md5(array_to_string(sig[b * {ROWS_PER_BAND} + 1 : (b + 1) * {ROWS_PER_BAND}], ','))
      AS bh
  FROM sigs, (SELECT unnest(range(0, {N_BANDS})) AS b) bb
),
bsize AS (
  SELECT b, bh FROM bands
  GROUP BY b, bh HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET_MEMBERS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.sig AS sig_a, b.sig AS sig_b
  FROM bands a
  JOIN bsize s ON a.b = s.b AND a.bh = s.bh
  JOIN bands b ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
  CAST(len(list_filter(range(1, {N_HASHES} + 1), i -> sig_a[i] = sig_b[i]))
       AS DOUBLE) / {N_HASHES} AS est_jaccard
FROM cand
ORDER BY doc_a, doc_b
"""


@query("q27_minhash_lsh", oracle=_Q15_ORACLE, tags=("L2", "dedup", "bench"))
def q27_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates with signature-estimated Jaccard.

    16 hashes, 4 bands × 4 rows (candidate threshold ≈ 0.5 Jaccard).
    Documents only ever meet inside an LSH bucket, which is the
    property that scales this to 100 TB corpora. Pair generation is
    bucket-grouped, not a self-join: group on (band, band_hash),
    collect the (small, LSH-bounded) bucket membership, explode the
    i<j pairs inside each bucket. One pass over the corpus, ONE
    shuffle on the bucket key — a self-join formulation computes the
    whole shingle→minhash subtree twice (Spark's exchange reuse does
    not canonicalize across the join sides) and at 100 TB invites AQE
    to broadcast an unboundedly large derived table; measured ~20%
    slower at sf0.1. Hash-matched against a DuckDB re-implementation
    (same md5-derived universal hash family, same banding; the oracle
    keeps the join formulation, proving the two shapes equivalent).
    The scan fans out first: shingling + md5 per shingle is the
    per-row-CPU-dominated shape where the rebalance shuffle pays for
    itself (2x at sf0.1).

    FORMULATION HISTORY (round 13, r12-VERDICT item 4, closing the
    "fan-out carries raw text" question with bytes): tokenizing BEFORE
    the rebalance and shuffling (doc_id, toks) instead of (doc_id,
    text) was built and measured — total shuffle bytes ROSE 3.0 MB →
    4.3 MB at sf0.1 (the token array out-weighs the raw text it is
    cut from; every other stage is byte-identical) with identical
    results. The text-carrying exchange shuffles the fewest bytes this
    contract admits (the md5-per-shingle work must happen somewhere
    after a narrow scan; only text or its tokenization can cross), so
    it stands.
    """
    d = fan_out(table(spark, sf_dir, "documents"))
    bands = lsh_bands(docs_to_signatures(d))
    pairs = bucket_pairs(bands, ["band", "bh"], "doc_id", "sig")
    # Cross-band dedup stays a dropDuplicates shuffle ON PURPOSE. The
    # tempting "emit-once" rewrite — emit a pair only from the first
    # band whose slices agree, making pairs distinct before any
    # shuffle (measured 6.7 s → 5.7 s at sf5) — is WRONG under the
    # hot-bucket guard: if the first agreeing band's bucket exceeded
    # MAX_BUCKET_MEMBERS it emitted nothing, and the filter then
    # suppresses the pair at every later band too, silently losing
    # candidates the oracle (and recall) keeps. Exactness beats the
    # ~15% tail saving; the guard interaction is exactly the
    # duplicate-heavy regime this operator exists for.
    #
    # N_HASHES static positional comparisons instead of a
    # zip_with+filter lambda chain: the fixed-length unrolled form
    # stays inside whole-stage codegen (higher-order array functions
    # evaluate in the expression interpreter), which matters at 6.7M
    # candidate pairs per sf5 run. (Adding MORE positional work to
    # this stage is not free: +12 comparisons pushes the generated
    # method past HotSpot's JIT size cliff and the stage runs ~6x
    # slower un-JIT'd — measured while evaluating the rewrite above.)
    return estimate_pairs(pairs)


# ---------------------------------------------------------------------------
# L17 extended: INCREMENTAL MinHash-LSH against a stored bands index.
# ---------------------------------------------------------------------------


def incremental_minhash_lsh(
    spark: SparkSession,
    index_path: str,
    delta_docs: DataFrame,
    max_bucket: int = MAX_BUCKET_MEMBERS,
) -> DataFrame:
    """One ingest batch of near-dup detection: find every NEW candidate
    pair involving a delta document, then append the delta's bands to
    the stored index. Completes the L17 incremental-dedup story for
    the NEAR-dup family (r119 covers exact): a production corpus never
    re-runs all-corpus LSH per ingest batch — it keeps the
    (doc_id, sig, band, bh) bands table at rest and joins each batch
    against it.

    Scale shape (the reason this works at 100 TB):
    - the delta's distinct (band, bh) keys are SMALL (4 per delta doc)
      and broadcast; the stored index is pruned to delta-touched
      buckets by a broadcast SEMI join — map-only over the index scan,
      no shuffle of the stored corpus, and most stored buckets (no
      delta member) are never grouped at all;
    - the hot-bucket guard measures the FULL bucket (stored members +
      delta members), so a bucket that crosses ``max_bucket`` as the
      corpus grows stops emitting pairs exactly when the one-shot
      formulation would drop it — the guard semantics are
      scale-consistent, not per-batch;
    - pair emission reuses :func:`bucket_pairs` (window-guarded
      collect, i<j explode) and keeps only pairs with ≥1 delta side:
      stored×stored pairs were emitted by earlier batches and are
      immutable.

    The result is materialized (``localCheckpoint``) BEFORE the index
    append, so the returned DataFrame never observes its own batch in
    the stored side. Returns (doc_a, doc_b, est_jaccard), totally
    ordered — bit-compatible with the one-shot q27 oracle restricted
    to delta-involving pairs (the driver query's differential check).
    """
    delta_bands = lsh_bands(docs_to_signatures(fan_out(delta_docs)))
    try:
        # ON-DISK FORMAT NOTE (round 13, r12-ADVICE): the index stores
        # ``sig`` as array<int> since round 12 (signature values are
        # mod 2^31-1, so int32 is exact). An index written by a
        # pre-round-12 build stored array<bigint>; reading one with
        # this forced schema fails at runtime (parquet int64 vs
        # requested int32). All in-repo callers build a fresh temp
        # index per run, so nothing migrates today — a deployment
        # holding a legacy index must rewrite it once (read with
        # array<bigint>, cast, write) before polling through this.
        stored = spark.read.schema(
            "doc_id bigint, sig array<int>, band int, bh string"
        ).parquet(index_path)
    except Exception:  # first batch: no index yet
        stored = spark.createDataFrame(
            [], "doc_id bigint, sig array<int>, band int, bh string"
        )
    delta_keys = delta_bands.select("band", "bh").distinct()
    relevant = stored.join(F.broadcast(delta_keys), ["band", "bh"], "semi")
    combined = relevant.withColumn("is_new", F.lit(False)).unionByName(
        delta_bands.withColumn("is_new", F.lit(True))
    )
    pairs = bucket_pairs(
        combined, ["band", "bh"], "doc_id", "sig", "is_new", max_bucket=max_bucket
    ).filter(F.col("a.is_new") | F.col("b.is_new"))
    out = estimate_pairs(pairs).localCheckpoint(eager=True)
    delta_bands.write.mode("append").parquet(index_path)
    return out


_INCR_LSH_ORACLE = f"""
WITH {_MINHASH_SIG_SQL},
bands AS (
  SELECT doc_id, sig, b,
    md5(array_to_string(sig[b * {ROWS_PER_BAND} + 1 : (b + 1) * {ROWS_PER_BAND}], ','))
      AS bh
  FROM sigs, (SELECT unnest(range(0, {N_BANDS})) AS b) bb
),
bsize AS (
  SELECT b, bh FROM bands
  GROUP BY b, bh HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET_MEMBERS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.sig AS sig_a, b.sig AS sig_b
  FROM bands a
  JOIN bsize s ON a.b = s.b AND a.bh = s.bh
  JOIN bands b ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
  CAST(len(list_filter(range(1, {N_HASHES} + 1), i -> sig_a[i] = sig_b[i]))
       AS DOUBLE) / {N_HASHES} AS est_jaccard
FROM cand
WHERE doc_a % 2 = 1 OR doc_b % 2 = 1
ORDER BY doc_a, doc_b
"""


@query("r86_incremental_lsh", oracle=_INCR_LSH_ORACLE, tags=("L17", "L2", "dedup"))
def r86_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-batch ingest replay of the incremental operator: the even
    documents seed a fresh bands index (their within-batch pairs are
    discarded — they are batch 1's output), then the odd documents
    arrive as the next batch. The returned NEW pairs must equal the
    ONE-SHOT q27 formulation over the full corpus restricted to pairs
    involving an odd document — exactly, guard included, because the
    batch-2 guard sees stored+delta = the full corpus per bucket.
    """
    import tempfile

    from ..catalog import pid_scratch

    d = table(spark, sf_dir, "documents")
    idx = tempfile.mkdtemp(
        prefix="lsh_idx_", dir=pid_scratch(tempfile.gettempdir())
    )
    incremental_minhash_lsh(spark, idx, d.filter(F.col("doc_id") % 2 == 0))
    return incremental_minhash_lsh(spark, idx, d.filter(F.col("doc_id") % 2 == 1))


# ---------------------------------------------------------------------------
# L2 SimHash near-dup: 60-bit weighted fingerprint + banded candidate
# join + Hamming-distance filter. Fully oracle-checked: the per-token
# hash is the first 15 hex digits of md5 (bit-identical in DuckDB via
# CAST('0x'||… AS BIGINT)), unlike xxhash64-based MinHash.
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60
SIMHASH_BANDS = 4
_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 15
_HAMMING_MAX = 12


def _hex_hash(col: Column) -> Column:
    """60-bit integer hash: md5 hex prefix → BIGINT (engine-portable)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash(doc_tokens: DataFrame) -> DataFrame:
    """(doc_id, token) rows → (doc_id, simhash).

    Classic Charikar construction: each token occurrence votes +1/-1
    on every bit of its hash; the fingerprint keeps the sign of each
    bit sum. ONE shuffle (groupBy doc_id) with 60 independent JVM-side
    SUM aggregates — map-side partial agg keeps it one pass at scale.
    A (doc_id, token)→count pre-aggregation would hash each distinct
    token once instead of per occurrence, but costs a second full
    shuffle of the token stream — md5 is the cheaper side of that
    trade (measured 0.69s vs 1.04s at sf0.1). The hash is
    materialized ONCE before the vote aggregates: 60 aggregate
    expressions referencing md5(token) directly would each recompute
    it per input row (no cross-aggregate subexpression elimination in
    the partial-agg stage).
    """
    hashed = doc_tokens.select("doc_id", _hex_hash(F.col("token")).alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    per_doc = hashed.groupBy("doc_id").agg(*votes)
    packed = sum(
        [
            F.when(F.col(f"s{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0))
            for j in range(SIMHASH_BITS)
        ],
        F.lit(0),
    ).cast("long")
    return per_doc.select("doc_id", packed.alias("simhash"))


def _simhash_sql() -> str:
    """DuckDB twin of the simhash construction over `documents`."""
    votes = ",\n    ".join(
        f"SUM(cnt * CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    packed = " + ".join(
        f"CASE WHEN s{j} >= 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
        for j in range(SIMHASH_BITS)
    )
    return f"""
toks AS (
  SELECT doc_id, unnest({TOKENS_SQL}) AS token FROM documents
),
weighted AS (
  SELECT doc_id, token, COUNT(*) AS cnt,
    CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS h
  FROM toks GROUP BY doc_id, token
),
votes AS (
  SELECT doc_id,
    {votes}
  FROM weighted GROUP BY doc_id
),
sims AS (
  SELECT doc_id, CAST({packed} AS BIGINT) AS simhash FROM votes
)
"""


_Q16_ORACLE = f"""
WITH {_simhash_sql()},
bands AS (
  SELECT doc_id, simhash, b,
    (simhash >> (b * {_BAND_BITS})) & {(1 << _BAND_BITS) - 1} AS band_val
  FROM sims, (SELECT unnest(range(0, {SIMHASH_BANDS})) AS b) bb
),
bsize AS (
  SELECT b, band_val FROM bands
  GROUP BY b, band_val HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET_MEMBERS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sim_a, b.simhash AS sim_b
  FROM bands a
  JOIN bsize s ON a.b = s.b AND a.band_val = s.band_val
  JOIN bands b ON a.b = b.b AND a.band_val = b.band_val
              AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
  bit_count(xor(sim_a, sim_b)) AS hamming
FROM cand
WHERE bit_count(xor(sim_a, sim_b)) <= {_HAMMING_MAX}
ORDER BY doc_a, doc_b
"""


@query("q66_simhash", oracle=_Q16_ORACLE, tags=("L2", "dedup"))
def q66_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: banded candidate join + Hamming ≤ 12.

    Same LSH scaling property as MinHash banding: a pair only
    materializes when one of the 4 15-bit bands matches exactly, so
    candidate generation is bucket-grouped on (band, band_val) — never
    an all-pairs product, and one corpus pass (see ``bucket_pairs``).
    The Hamming filter then runs on the bounded candidate set
    (bit_count(xor) — one instruction per pair).
    """
    d = fan_out(table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    sims = simhash(toks)

    mask = (1 << _BAND_BITS) - 1
    bands = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.shiftright("simhash", b * _BAND_BITS)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", F.col("bb.b").alias("b"), F.col("bb.band_val").alias("band_val"))

    pairs = bucket_pairs(bands, ["b", "band_val"], "doc_id", "simhash")
    hamming = F.bit_count(F.expr("sim_a ^ sim_b"))
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(hamming <= _HAMMING_MAX)
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# L2 dedup clusters: connected components over the near-dup pair graph
# (SURVEY.md §2.3 L2 "connected components via iterative small-join").
# Each document maps to the min doc_id of its similarity cluster — the
# survivor-selection step a real dedup pipeline runs after pair mining.
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame, max_iter: int = 20
) -> DataFrame:
    """(src, dst) undirected edges → (doc_id, cluster_id = min reachable).

    Min-label propagation with pointer doubling: each round every
    vertex takes the min of its own and its neighbors' labels, then
    shortcuts through its label's label (lbl := lbl[lbl]) — the
    pointer-jumping step squares the propagation distance per round,
    so convergence is O(log diameter) instead of O(diameter). The loop
    is a driver-side CONTROL decision only. The edge set is
    checkpointed up front: its (possibly expensive) lineage — an LSH
    bucket join or a pair-scoring subtree — must not replay once per
    round.

    Per-round cost (round 13, r12-VERDICT item 3 — fewer actions and
    joins per round; the fixpoint is unchanged, so results are too):

    - the PROPAGATION frame is checkpointed mid-round, so the
      pointer-doubling self-join reads one materialized relation
      twice instead of evaluating the neighbor-min join subtree once
      per branch (its two sides shuffle by different keys, so no
      exchange reuse could have deduplicated them);
    - the OLD label rides along as ``plbl``, so convergence is a
      changed-rows count folded into the round's own materialization
      (persist + count populates the cache and answers the check in
      ONE job) — before, it was a separate join of two checkpointed
      frames per round;
    - lineage stays bounded without checkpointing the round result:
      each round's plan roots at the previous round's cached frame
      and the mid-round checkpoint, both constant-depth. The
      superseded round's cache is dropped once the next round's
      checkpoint no longer depends on it, and the final round's once
      the returned labels are checkpointed off it — a call leaves no
      cached frame behind.
    """
    # Checkpoint edges BEFORE the reversal union: union branches don't
    # share work, so materializing the union directly would run the
    # (possibly expensive) edge lineage twice.
    edges = iter_checkpoint(edges)
    both = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = iter_checkpoint(
        both.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("lbl"))
    )
    prev_cached = None
    for _ in range(max_iter):
        neighbor_min = (
            both.join(labels, both.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("lbl").alias("nlbl"))
        )
        prop = iter_checkpoint(
            labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
                ).alias("lbl"),
                F.col("lbl").alias("plbl"),
            )
        )
        # Pointer doubling: follow the label one hop (a label is always
        # itself a vertex id, so the self-join always hits; the min of
        # the two is monotone toward the component minimum).
        hop = prop.select(F.col("doc_id").alias("h_id"), F.col("lbl").alias("h_lbl"))
        nl = (
            prop.join(hop, prop.lbl == hop.h_id, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("h_lbl"), F.col("lbl"))
                ).alias("lbl"),
                "plbl",
            )
            .persist()
        )
        # one job: computes every partition of nl INTO the cache (the
        # filter sits above the InMemoryRelation, so no partition is
        # skipped) and returns the convergence count
        changed = nl.filter(F.col("lbl") != F.col("plbl")).count()
        if prev_cached is not None:
            # this round's prop checkpoint materialized everything that
            # depended on the previous round's cache — safe to drop now
            prev_cached.unpersist()
        prev_cached = nl
        labels = nl.select("doc_id", "lbl")
        if changed == 0:
            break
    out = iter_checkpoint(labels.select("doc_id", F.col("lbl").alias("cluster_id")))
    if prev_cached is not None:
        prev_cached.unpersist()
    return out


_Q17_ORACLE = f"""
WITH RECURSIVE {_SHK_SQL},
edges AS (
  SELECT doc_a AS src, doc_b AS dst
  FROM pairs JOIN counts ca ON doc_a = ca.doc_id
             JOIN counts cb ON doc_b = cb.doc_id
  WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= {_JACCARD_THRESHOLD}
),
und AS (
  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
),
reach AS (
  SELECT src AS doc_id, src AS r FROM und
  UNION
  SELECT r.doc_id, u.dst AS r
  FROM reach r JOIN und u ON r.r = u.src
)
SELECT doc_id, MIN(r) AS cluster_id
FROM reach
GROUP BY doc_id
ORDER BY doc_id
"""


@query("q67_dedup_clusters", oracle=_Q17_ORACLE, tags=("L2", "dedup"))
def q67_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity clusters over the n-gram-Jaccard pair graph: every
    paired document labeled with the min doc_id reachable through
    near-dup edges (transitive closure — A~B, B~C puts A,C in one
    cluster even if never directly compared).

    Spark side: iterative min-label propagation (bounded small joins);
    oracle side: DuckDB recursive CTE transitive closure — two very
    different algorithms that must produce identical clusters.
    """
    pairs = _jaccard_pairs(spark, sf_dir)  # unsorted — CC needs no order
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    return connected_components(edges).orderBy("doc_id")


# ---------------------------------------------------------------------------
# L2 edit-distance fuzzy matching: blocked Levenshtein pairs.
# ---------------------------------------------------------------------------

_LEV_MAX = 3


_Q48_ORACLE = f"""
SELECT
  a.p_partkey AS key_a,
  b.p_partkey AS key_b,
  a.p_name AS name_a,
  b.p_name AS name_b,
  levenshtein(a.p_name, b.p_name) AS edit_dist
FROM part a
JOIN part b
  ON a.p_type = b.p_type
 AND a.p_size = b.p_size
 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= {_LEV_MAX}
  AND a.p_name <> b.p_name
ORDER BY key_a, key_b
"""


@query("r124_fuzzy_pairs", oracle=_Q48_ORACLE, tags=("L2", "dedup"))
def r124_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-identical part names by Levenshtein distance ≤ 3 (typo-level
    variants), blocked on (p_type, p_size).

    The blocking key turns the quadratic all-pairs distance scan into
    an equi-join whose per-bucket cost is bounded — the same
    structural guarantee as the LSH/shingle joins (at 100 TB the
    block key would extend with a length band or first-character
    class; recall trades off explicitly). Both engines implement
    plain Levenshtein, so the filter is oracle-exact.
    """
    p = table(spark, sf_dir, "part")
    a = p.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        "p_type",
        "p_size",
    )
    b = p.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        F.col("p_type").alias("t2"),
        F.col("p_size").alias("s2"),
    )
    pairs = a.join(
        b,
        (F.col("p_type") == F.col("t2"))
        & (F.col("p_size") == F.col("s2"))
        & (F.col("key_a") < F.col("key_b")),
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        pairs.select("key_a", "key_b", "name_a", "name_b", dist.alias("edit_dist"))
        .filter((F.col("edit_dist") <= _LEV_MAX) & (F.col("name_a") != F.col("name_b")))
        .orderBy("key_a", "key_b")
    )


# ---------------------------------------------------------------------------
# r10: incremental dedup — a new batch against an existing corpus index.
# ---------------------------------------------------------------------------

_INCR_SPLIT = 400   # doc_id < 400 plays the already-ingested corpus
_INCR_PREFIX = 10   # fingerprint the first k tokens (prefix dedup)

_Q_R10_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
),
fp AS (
  SELECT doc_id, md5(array_to_string(toks[1:{_INCR_PREFIX}], ' ')) AS fingerprint
  FROM t
),
idx AS (
  SELECT DISTINCT fingerprint FROM fp WHERE doc_id < {_INCR_SPLIT}
),
batch AS (
  SELECT doc_id, fingerprint,
    ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
  FROM fp WHERE doc_id >= {_INCR_SPLIT}
)
SELECT b.doc_id, b.fingerprint,
  CASE
    WHEN i.fingerprint IS NOT NULL THEN 'dup_index'
    WHEN b.rn > 1 THEN 'dup_batch'
    ELSE 'new'
  END AS status
FROM batch b LEFT JOIN idx i USING (fingerprint)
ORDER BY b.doc_id
"""


@query("r119_incremental_dedup", oracle=_Q_R10_ORACLE, tags=("L1", "dedup"))
def r119_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup a newly-ingested batch against the corpus that is already
    in the lake (doc_id < 400 plays the stored fingerprint index) AND
    within itself: every batch document is labeled ``new`` (first
    sighting anywhere), ``dup_index`` (content already ingested in a
    prior run), or ``dup_batch`` (repeated within this batch, min
    doc_id survives).

    This is the continuous-ingest form of L1 exact dedup: production
    pipelines never re-fingerprint the corpus per batch — they keep
    the fingerprint column as its own slim table and anti-join each
    increment against it. The fingerprint here is over the normalized
    first-k-token prefix (the standard trick for re-crawls that differ
    only in trailing boilerplate; whole-text md5 is q18's form). Plan
    shape at scale: both sides hash-partition once on the 128-bit
    fingerprint (uniform by construction, no skew); the within-batch
    window reuses the same key. The index side scans fingerprints
    only — never the stored text.
    """
    d = table(spark, sf_dir, "documents")
    # NULL text must stay NULL (the oracle's md5(array_to_string(...))
    # propagates NULL; concat_ws alone would silently emit md5('') and
    # group every NULL-text doc into one bogus duplicate cluster).
    fp = d.select(
        "doc_id",
        F.when(F.col("text").isNull(), F.lit(None).cast("string"))
        .otherwise(
            F.md5(F.concat_ws(" ", F.slice(tokens("text"), 1, _INCR_PREFIX)))
        )
        .alias("fingerprint"),
    )
    idx = (
        fp.filter(F.col("doc_id") < _INCR_SPLIT)
        .select("fingerprint")
        .distinct()
        .withColumn("_in_idx", F.lit(1))
    )
    batch = fp.filter(F.col("doc_id") >= _INCR_SPLIT)
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        batch.withColumn("rn", F.row_number().over(w))
        .join(idx, "fingerprint", "left")
        .select(
            "doc_id",
            "fingerprint",
            F.when(F.col("_in_idx").isNotNull(), "dup_index")
            .when(F.col("rn") > 1, "dup_batch")
            .otherwise("new")
            .alias("status"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# r11: sub-document (chunk-level) dedup — the C4/RefinedWeb line-dedup
# recipe at fixed token-span granularity.
# ---------------------------------------------------------------------------

_CHUNK_DEDUP_K = 16  # non-overlapping span width in tokens

_Q_R11_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
  WHERE len({TOKENS_SQL}) > 0
),
st AS (
  SELECT doc_id, toks, unnest(range(0, len(toks), {_CHUNK_DEDUP_K})) AS s FROM t
),
c AS (
  SELECT doc_id, CAST(s / {_CHUNK_DEDUP_K} AS BIGINT) AS chunk_idx,
    len(toks[s + 1 : s + {_CHUNK_DEDUP_K}]) AS n_tokens,
    md5(array_to_string(toks[s + 1 : s + {_CHUNK_DEDUP_K}], ' ')) AS f
  FROM st
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id, chunk_idx) AS rn
  FROM c
)
SELECT doc_id,
  COUNT(*) AS n_chunks,
  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
  CAST(SUM(CASE WHEN rn = 1 THEN n_tokens ELSE 0 END) AS BIGINT) AS n_tokens_kept
FROM r
GROUP BY doc_id
ORDER BY doc_id
"""


@query("r126_chunk_dedup", oracle=_Q_R11_ORACLE, tags=("L2", "dedup"))
def r126_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup: non-overlapping 16-token spans are
    fingerprinted corpus-wide and only each span's first occurrence
    (by doc_id, position) survives — per document, how many spans it
    holds, how many are repeats of earlier content anywhere in the
    corpus, and how many tokens remain after the cut.

    This is the line-level dedup large web corpora run AFTER document
    dedup (C4's duplicate-line removal, RefinedWeb's line dedup):
    boilerplate repeats across documents that are not themselves
    duplicates. Span granularity replaces lines because the fixture
    text has no line structure; the recipe is identical. Plan shape at
    scale: map-only explode → one shuffle on the 128-bit span
    fingerprint for the first-occurrence window (uniform key, no
    skew) → one shuffle back to doc_id for the per-doc rollup.
    """
    d = table(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens("text").alias("toks")).filter(F.size("toks") > 0)
    st = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0), F.size("toks") - 1, F.lit(_CHUNK_DEDUP_K))
        ).alias("s"),
    )
    chunk = F.slice("toks", F.col("s") + 1, _CHUNK_DEDUP_K)
    c = st.select(
        "doc_id",
        (F.col("s") / _CHUNK_DEDUP_K).cast("long").alias("chunk_idx"),
        F.size(chunk).alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("f"),
    )
    w = Window.partitionBy("f").orderBy("doc_id", "chunk_idx")
    r = c.withColumn("rn", F.row_number().over(w))
    return (
        r.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("rn") > 1).cast("long")).alias("n_dup_chunks"),
            F.sum(F.when(F.col("rn") == 1, F.col("n_tokens")).otherwise(0)).alias(
                "n_tokens_kept"
            ),
        )
        .orderBy("doc_id")
    )
