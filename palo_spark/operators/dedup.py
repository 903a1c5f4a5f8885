"""Deduplication operators for training-data pipelines.

Every shuffle is an explicit, keyed exchange. The strategies are native
Catalyst expressions except where a numpy kernel does the per-row
arithmetic as a pandas UDF (MinHash signatures, and the embedding and
LSH helpers further down):

- **exact**: hash-groupBy on content (or chosen columns); one shuffle.
- **MinHash + LSH**: normalized text → one pandas UDF that hashes every
  k-char window and takes n permuted minima → band → bucket-join.
  Candidate generation is a self-join on ``(band_id, band_hash)`` —
  only docs sharing a bucket ever meet, never all-pairs (the all-pairs
  join is the thing that does NOT survive 100 TB); native shingle sets
  are built for candidate pairs only, to verify the exact Jaccard.
- **SimHash**: per-token hashes → per-bit majority vote → 64-bit
  fingerprint; near-dup candidates via 4×16-bit chunk buckets
  (Hamming ≤ 3 guarantee by pigeonhole).
- **n-gram Jaccard**: exact pairwise Jaccard, but only over pairs that
  share at least one n-gram (inverted-index join), with frequency-based
  prefix pruning available via ``max_df``.

Every dedup keeps the **lowest id** of a duplicate group's members that
it can prove (single-hop canonicalization — a deliberate, documented
approximation of connected components; full CC needs an iterative
min-propagation which ``dedup_minhash(iterations=k)`` provides).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from palo_spark.operators.cache import _persist


def _normalized(col):
    """The normalization every shingle-based dedup applies: trim,
    collapse whitespace runs to one space, lowercase (native)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))


def content_hash(col, *, normalize: bool = True):
    """64-bit content hash of a text column (xxhash64, JVM-side).

    ``normalize`` lowercases and collapses whitespace first, so
    formatting-only variants collapse to one hash.
    """
    if normalize:
        return F.xxhash64(_normalized(col))
    return F.xxhash64(F.col(col) if isinstance(col, str) else col)


def dedup_exact(df: DataFrame, cols: list[str] | None = None, id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the lowest-``id_col`` row per distinct key.

    One hash shuffle on the dedup key (two-phase min aggregation +
    semi-join back) — the canonical scale-safe exact dedup. With
    ``cols=None`` the key is a normalized content hash of ``text``.
    """
    if cols is None:
        keyed = df.withColumn("__key", content_hash("text"))
        key_cols = ["__key"]
    else:
        keyed = df
        key_cols = list(cols)
    w = Window.partitionBy(*key_cols).orderBy(F.col(id_col).asc())
    return (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__key")
    )


def shingles(col, k: int = 5):
    """Character k-shingle set of a normalized text column.

    Built as a zip of k shifted slices of ONE char-split of the
    normalized text — NOT ``transform(sequence, i -> substring(norm,
    i, k))``: higher-order lambdas evaluate interpreted, so a ``norm``
    expression inside the lambda body re-runs the lower+regexp
    normalization for every shingle index (O(len²) per row). Here the
    normalization appears only in the ``arrays_zip`` arguments
    (constant evaluations per row); ``array_distinct`` dedups.
    """
    norm = _normalized(col)
    # Java split keeps a trailing empty string at limit -1; slice to len
    chars = F.slice(F.split(norm, ""), 1, F.greatest(F.length(norm), F.lit(1)))
    m = F.greatest(F.length(norm) - F.lit(k - 1), F.lit(1))
    zipped = F.arrays_zip(
        *[F.slice(chars, i + 1, m).alias(f"c{i}") for i in range(k)]
    )
    # concat_ws skips zip-padding NULLs → strings shorter than k yield
    # the single truncated shingle, same as substring(norm, 1, k) did
    return F.array_distinct(
        F.transform(zipped, lambda s: F.concat_ws("", *[s[f"c{i}"] for i in range(k)]))
    )


#: Mersenne prime 2^61-1: the classic modulus for linear-permutation
#: MinHash. Products of 61-bit values are reduced with exact uint64
#: split-multiply arithmetic (see ``_permute_mod_p``) — no Python
#: object math in the hot path.
_MINHASH_P = (1 << 61) - 1


def _minhash_coeffs(n_hashes: int, seed: int = 1234):
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MINHASH_P, size=n_hashes, dtype=np.int64)
    b = rng.integers(0, _MINHASH_P, size=n_hashes, dtype=np.int64)
    return a, b


def _permute_mod_p(h, a, b):
    """Exact ``(a·h + b) mod (2^61−1)`` over uint64, fully vectorized.

    ``h`` is a uint64 vector (values < 2^61), ``a``/``b`` uint64 vectors
    of coefficients (values < 2^61); returns the (len(a) × len(h))
    matrix of permuted values. The 122-bit product is computed via
    31-bit split-multiply — ``a·h = a1·h1·2^62 + (a1·h0 + a0·h1)·2^31 +
    a0·h0`` — and reduced with the Mersenne identities ``2^62 ≡ 2`` and
    ``2^61 ≡ 1 (mod p)``. Every partial sum stays below 2^64 without an
    intermediate fold, the matrix steps run in place, and the final
    reduction is ``min(s, s − p)`` (uint64 wrap-around makes ``s − p``
    huge exactly when ``s < p``). Bit-exact with Python-int
    ``(a*h + b) % p`` (pinned by
    tests/test_operators.py::test_minhash_kernel_matches_object_math).
    """
    P = np.uint64(_MINHASH_P)
    M31 = np.uint64((1 << 31) - 1)
    M30 = np.uint64((1 << 30) - 1)
    S31 = np.uint64(31)
    a1, a0 = (a >> S31)[:, None], (a & M31)[:, None]
    h1, h0 = (h >> S31)[None, :], (h & M31)[None, :]
    s = a0 * h0                          # lo < 2^62
    t = (a1 << np.uint64(1)) * h1        # 2·hi < 2^61
    s += t
    mid = a1 * h0
    np.multiply(a0, h1, out=t)
    mid += t                             # mid < 2^62
    # mid·2^31 = (mid>>30)·2^61 + (mid&M30)·2^31 ≡ (mid>>30) + (mid&M30)<<31
    np.right_shift(mid, np.uint64(30), out=t)
    s += t
    mid &= M30
    mid <<= S31
    s += mid                             # < 2^63 + 2^32
    s += b[:, None]                      # < 2^64: no overflow
    np.right_shift(s, np.uint64(61), out=t)
    s &= P
    s += t                               # ≤ p + 5: one subtraction left
    np.subtract(s, P, out=t)
    return np.minimum(s, t, out=s)


#: Shingles per MinHash kernel block. Each block's temporaries are
#: n_hashes × block × 8 B (512 KB at 64 hashes), so they stay in cache;
#: 2^18-shingle blocks (128 MB temporaries) ran the same signatures
#: ~4× slower, memory-bound.
_MINHASH_BLOCK = 1 << 10


def _minhash_rows(flat, lens, a, b):
    """Per-row MinHash minima: the one kernel behind both signature
    front ends.

    ``flat`` holds every row's base hashes back to back (uint64, values
    < 2^61) and ``lens`` the count per row; returns an (n_rows ×
    len(a)) int64 matrix. The flat vector is cut into fixed
    ``_MINHASH_BLOCK`` slices regardless of row boundaries: each slice
    is permuted once, ``np.minimum.reduceat`` takes the minima of the
    row segments inside it, and a row that spans slices folds them into
    its running minimum. A row with no hashes keeps the sentinel ``p``.
    """
    n = len(lens)
    out = np.full((n, len(a)), _MINHASH_P, dtype=np.uint64)
    bounds = np.concatenate([[0], np.cumsum(lens)])
    rows = np.flatnonzero(lens)          # empty rows own no segment
    starts, ends = bounds[:-1][rows], bounds[1:][rows]
    for lo in range(0, len(flat), _MINHASH_BLOCK):
        hi = min(lo + _MINHASH_BLOCK, len(flat))
        # the rows overlapping [lo, hi): ends past lo, starts before hi
        r0 = np.searchsorted(ends, lo, side="right")
        r1 = np.searchsorted(starts, hi, side="left")
        perm = _permute_mod_p(flat[lo:hi], a, b)
        mins = np.minimum.reduceat(perm, np.maximum(starts[r0:r1], lo) - lo, axis=1)
        sel = rows[r0:r1]
        out[sel] = np.minimum(out[sel], mins.T)
    return out.astype(np.int64)


def minhash_signature(shingle_col, n_hashes: int = 64):
    """MinHash signature via the universal-hashing construction:
    ONE strong base hash per shingle (native ``xxhash64``, single
    interpreted pass) + ``n_hashes`` linear permutations
    ``(a_i·h + b_i) mod (2^61−1)`` evaluated as one vectorized numpy
    kernel per Arrow batch.

    Returns an ``array<bigint>`` of length ``n_hashes``; an empty or
    NULL shingle array gets the sentinel signature (every value
    ``2^61−1``). History: v1 evaluated ``n_hashes`` separate interpreted
    ``array_min(transform(xxhash64(s, seed)))`` folds; v2 used a
    per-row object-dtype (Python-int) matrix — exact but unvectorized
    (the slowest bench entry at r4). v3 (this form) flattens the whole
    Arrow batch into one shingle-hash vector and hands it to
    :func:`_minhash_rows` — exact uint64 split-multiply mod-p math
    (``_permute_mod_p``) in cache-sized blocks of ``_MINHASH_BLOCK``
    shingles, bit-identical signatures to v2.
    """
    c = F.col(shingle_col) if isinstance(shingle_col, str) else shingle_col
    a, b = _minhash_coeffs(n_hashes)
    a_u = a.astype(np.uint64)
    b_u = b.astype(np.uint64)

    @F.pandas_udf("array<bigint>")
    def _sig(hashes: pd.Series) -> pd.Series:
        lens = np.fromiter(
            (0 if hs is None else len(hs) for hs in hashes), np.int64, len(hashes)
        )
        arrs = [np.asarray(hs, dtype=np.int64) for hs in hashes if hs is not None and len(hs)]
        flat = np.concatenate(arrs) if arrs else np.zeros(0, np.int64)
        flat = flat.view(np.uint64) & np.uint64(_MINHASH_P)
        return pd.Series(list(_minhash_rows(flat, lens, a_u, b_u)))

    return _sig(F.transform(c, lambda s: F.xxhash64(s)))


_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)


def _shingle_hashes(texts, k: int):
    """Fixed 64-bit hashes of every k-code-point window of each text —
    the numpy twin of :func:`shingles` for signature building.

    ``texts`` are already normalized; a text shorter than ``k`` (the
    empty string included) is one shingle, the whole text, as in
    :func:`shingles`; ``None`` has no shingles. Returns ``(flat,
    lens)``: the hashes back to back (uint64, masked to 61 bits) and
    the count per text. The whole batch is decoded once as UTF-32, each
    window is folded FNV-1a style over its code points and finished
    with the murmur3 64-bit mixer — vectorized over all windows, and
    unlike Python's ``hash()`` (salted per process) the same on every
    worker. Duplicate windows are kept: a minimum does not care.
    """
    strs = [t if isinstance(t, str) else "" for t in texts]
    n_chars = np.fromiter(map(len, strs), np.int64, len(strs))
    # one padding code point so an all-empty batch still indexes
    cps = np.frombuffer(("".join(strs) + "\0").encode("utf-32-le"), dtype=np.uint32)
    lens = np.maximum(n_chars - (k - 1), 1)
    lens[[not isinstance(t, str) for t in texts]] = 0
    text_start = np.cumsum(n_chars) - n_chars
    win_first = np.cumsum(lens) - lens
    total = int(lens.sum())
    pos = np.arange(total) + np.repeat(text_start - win_first, lens)
    end = np.repeat(text_start + n_chars, lens)
    h = np.full(total, _FNV_OFFSET, dtype=np.uint64)
    for j in range(k):
        idx = pos + j
        h = np.where(idx < end, (h ^ cps[np.minimum(idx, len(cps) - 1)]) * _FNV_PRIME, h)
    for mul in (0xFF51AFD7ED558CCD, 0xC4CEB9FE1A85EC53):
        h ^= h >> np.uint64(33)
        h *= np.uint64(mul)
    h ^= h >> np.uint64(33)
    return h & np.uint64(_MINHASH_P), lens


def _text_signature(norm_col, k: int, n_hashes: int):
    """MinHash signature straight from normalized text: one pandas UDF
    hashes the k-char windows (:func:`_shingle_hashes`) and runs the
    :func:`_minhash_rows` kernel — no per-doc shingle array is ever
    built. NULL text gives a NULL signature. The values differ from
    ``minhash_signature(shingles(...))`` (another base hash), the
    Jaccard they estimate does not."""
    a, b = _minhash_coeffs(n_hashes)
    a_u = a.astype(np.uint64)
    b_u = b.astype(np.uint64)

    @F.pandas_udf("array<bigint>")
    def _sig(texts: pd.Series) -> pd.Series:
        flat, lens = _shingle_hashes(texts, k)
        sigs = _minhash_rows(flat, lens, a_u, b_u)
        return pd.Series(
            [sig if isinstance(t, str) else None for t, sig in zip(texts, sigs)]
        )

    return _sig(norm_col)


def _band_hash(sig_col, bands: int, rows_per_band: int):
    """Array of (band_id, hash-of-band-slice) structs for LSH bucketing.

    Rendered as ONE ``F.expr`` parse when given a column NAME — the
    Column form built bands × rows_per_band ``element_at``/``struct``
    nodes one py4j round-trip each (~0.5 s of driver time per call at
    16×4, r13 cProfile); the parsed tree is identical (pinned by
    test_band_hash_sql_twin_bit_identical)."""
    if isinstance(sig_col, str):
        q = f"`{sig_col}`"
        structs = [
            "named_struct('band', {b}, 'bh', xxhash64(concat_ws(',', {cells})))".format(
                b=b,
                cells=",".join(
                    f"CAST(element_at({q}, {b * rows_per_band + r + 1}) AS STRING)"
                    for r in range(rows_per_band)
                ),
            )
            for b in range(bands)
        ]
        return F.expr("array(" + ",".join(structs) + ")")
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at(sig_col, b * rows_per_band + r + 1).cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("bh"),
            )
            for b in range(bands)
        ]
    )


def dedup_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.8,
    iterations: int = 1,
    verify_exact: bool = True,
    materialize: bool = True,
) -> DataFrame:
    """Fuzzy dedup via MinHash + LSH banding.

    Pipeline (each step one keyed shuffle, never all-pairs):
      1. signature per doc (no shuffle): the text is normalized natively
         and ONE pandas UDF hashes its k-char windows and takes the
         ``n_hashes`` MinHash minima (:func:`_text_signature`) — no
         per-doc shingle array is built or cached; docs with NULL text
         get no signature and never become candidates,
      2. explode to (band, band_hash) and self-join on the bucket —
         candidate pairs only among bucket-mates,
      3. score the pair: with ``verify_exact`` (default, the production
         design) the candidate pairs are joined back to their texts and
         the TRUE shingle-set Jaccard (native :func:`shingles`) is
         computed for those docs only — the output is then exact and
         hash-independent (LSH misses a j≥0.8 pair with probability
         (1−j⁴)¹⁶ < 1e-8); with ``verify_exact=False`` the estimated
         Jaccard (fraction of equal signature positions) is used —
         cheaper, hash-dependent,
      4. canonicalize: every doc maps to min(matched ids); ``iterations``
         rounds of min-propagation approximate connected components
         (1 round = direct-match canonical, enough for near-dup sets
         that share buckets; raise for chained duplicates).

    Returns the deduplicated DataFrame (original columns).

    ``materialize`` (default): the kept-id set — ids only, one row per
    surviving doc — is computed eagerly (localCheckpoint) and the
    internal signature cache is unpersisted before returning, so the
    call leaves no tracked cache behind (structural release — VERDICT
    r8 #3). ``materialize=False`` keeps the fully lazy plan (the
    signature persist is tracked under tag ``dedup_minhash``; caller
    releases via ``release_persisted``) for plan introspection /
    composition.
    """
    rows_per_band = n_hashes // bands
    src = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < parallelism:
        # few-file inputs (one parquet footer at small SF) would run the
        # signature UDF — the expensive stage — on 1-2 tasks; the input
        # here is (id, text) narrow, so this shuffle is cheap insurance
        # (same fix as substring_dup_docs)
        src = src.repartition(parallelism)
    # the signature feeds BOTH sides of the bucket self-join: without a
    # persist the UDF would run once per branch. MEMORY_AND_DISK: spills
    # instead of OOMing at scale; the sketch (64 longs/doc) is tiny next
    # to the corpus it indexes. Tracked in operators.cache — callers of
    # the lazy form release via release_persisted().
    sig = _persist(
        src.select(
            "__id", _text_signature(_normalized("__t"), shingle_k, n_hashes).alias("__sig")
        ),
        "dedup_minhash",
    )
    # with exact verification the bucket self-join needs only (id, band,
    # bucket-hash) — shuffling the 64-long signatures through the join
    # (both sides × ``bands`` rows each) would multiply shuffle volume
    # for columns the verify path never reads; only the estimated-
    # Jaccard path carries them
    sig_cols = [] if verify_exact else ["__sig"]
    # NULL text has no signature. The filter sits on the cached frame:
    # above the UDF, Catalyst would push it through the repartition and
    # run the UDF a second time on the unspread input.
    buckets = sig.filter(F.col("__sig").isNotNull()).select(
        "__id", *sig_cols, F.explode(_band_hash("__sig", bands, rows_per_band)).alias("__b")
    ).select("__id", *sig_cols, F.col("__b.band").alias("__band"), F.col("__b.bh").alias("__bh"))

    left = buckets.select(
        F.col("__id").alias("id_a"),
        *[F.col(c).alias("sig_a") for c in sig_cols],
        "__band",
        "__bh",
    )
    right = buckets.select(
        F.col("__id").alias("id_b"),
        *[F.col(c).alias("sig_b") for c in sig_cols],
        "__band",
        "__bh",
    )
    pairs = (
        left.join(right, on=["__band", "__bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    if verify_exact:
        # shingle sets only for the docs of a candidate pair, straight
        # from the input (not the repartitioned copy: that would re-run
        # its exchange)
        txt = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
        t_a = txt.select(F.col("__id").alias("id_a"), F.col("__t").alias("t_a"))
        t_b = txt.select(F.col("__id").alias("id_b"), F.col("__t").alias("t_b"))
        sh = (
            pairs.select("id_a", "id_b")
            .join(t_a, "id_a")
            .join(t_b, "id_b")
            .select(
                "id_a",
                "id_b",
                shingles("t_a", shingle_k).alias("sh_a"),
                shingles("t_b", shingle_k).alias("sh_b"),
            )
        )
        scored = sh.select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("__i"),
            (F.size("sh_a") + F.size("sh_b")).alias("__n"),
        )
        jac = F.col("__i") / (F.col("__n") - F.col("__i"))
    else:
        scored = pairs
        jac = F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda a, b: (a == b).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        ) / F.lit(float(n_hashes))

    # canonical id per doc: min over matched partners (and self). A
    # candidate below the threshold contributes NULL, which min skips —
    # a projection, not a filter: Catalyst would push a filter into the
    # join condition and evaluate each shingle set there twice.
    edges = scored.select(
        F.col("id_b").alias("__id"), F.when(jac >= threshold, F.col("id_a")).alias("__canon")
    )
    canon = df.select(F.col(id_col).alias("__id")).join(edges, "__id", "left").groupBy(
        "__id"
    ).agg(F.least(F.min("__canon"), F.min("__id")).alias("__canon"))
    canon = canon.withColumn("__canon", F.coalesce("__canon", "__id"))
    for _ in range(iterations - 1):
        # propagate: my canon = canon of my canon
        c2 = canon.select(F.col("__id").alias("__cid"), F.col("__canon").alias("__c2"))
        canon = (
            canon.join(c2, canon["__canon"] == c2["__cid"], "left")
            .select("__id", F.coalesce("__c2", "__canon").alias("__canon"))
        )

    keep = canon.filter(F.col("__id") == F.col("__canon")).select("__id")
    if materialize:
        from palo_spark.operators.cache import _materialize, _release_frames

        try:
            # ids-only: ~8 bytes/doc — trivial next to the corpus. The
            # signature cache serves the one checkpoint job, then
            # releases unconditionally.
            keep = _materialize(keep)
        finally:
            _release_frames(sig)
    return df.join(keep, df[id_col] == keep["__id"], "left_semi")


def md5_token_hash(t):
    """Portable 60-bit token hash: the first 15 hex digits of md5.

    Exists so SimHash fingerprints can be replayed bit-for-bit in any
    engine with md5 (DuckDB, Trino, ...) for cross-engine value
    oracles; the xxhash64 default stays the production fast path.
    """
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint")


md5_token_hash.hash_bits = 60  # declared width; simhash() rejects bits beyond it


def simhash(col, *, bits: int = 64, token_hash=None):
    """SimHash of a text column, fully native.

    Token hashes vote per bit (+1/−1); the sign of each bit's sum forms
    the fingerprint. Implemented as a per-row fold over the token array
    — no explode, no shuffle. ``token_hash`` swaps the per-token hash
    (default xxhash64; pass ``md5_token_hash`` with ``bits<=60`` for a
    cross-engine-replayable fingerprint).
    """
    width = getattr(token_hash, "hash_bits", 64) if token_hash is not None else 64
    if bits > width:
        # Beyond the hash width every token's bit is 0, so bits
        # width..bits-1 vote uniformly −1: the fingerprint's top bits
        # carry no signal and the chunk bucketing silently degrades.
        # Fail loud instead (ADVICE r6).
        raise ValueError(
            f"simhash bits={bits} exceeds token_hash width {width}; "
            f"pass bits<={width} (md5_token_hash is 60-bit)"
        )
    c = F.col(col) if isinstance(col, str) else col
    tokens = F.split(F.lower(F.trim(c)), r"\s+")
    hashes = F.transform(tokens, token_hash or (lambda t: F.xxhash64(t)))
    # bit b sum = Σ tokens (hash>>b & 1 ? 1 : -1); fingerprint bit = sum > 0.
    # Python-level loop over bit positions (shift amounts must be
    # literals); each bit is one JVM fold over the token-hash array.
    def _vote(b: int):
        # closure (not a default arg — pyspark introspects lambda arity)
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda a, h: a
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )

    fp = F.lit(0).cast("bigint")
    for b in range(bits):
        vote = _vote(b)
        # bit 63 is the sign bit: 1<<63 overflows signed long
        bit_val = (1 << b) if b < 63 else -(1 << 63)
        fp = fp + F.when(vote > 0, F.lit(bit_val).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return fp


def simhash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    bits: int = 64,
    token_hash=None,
) -> DataFrame:
    """``(id, fingerprint)`` for every row of ``df`` — bit-identical to
    ``simhash(text_col)`` per row, reformulated for throughput (r12,
    guide §1.2 "the distributed algorithm"):

    The Column form folds the token-hash array once PER BIT — ``bits``
    interpreted aggregate passes per row (higher-order folds never reach
    codegen). Here the tokens are exploded once and the per-bit votes
    become ``bits`` SUM aggregates in ONE whole-stage-codegen hash
    aggregate with map-side partials — measured 8× faster at sf0.1 and
    the right shape at scale (partial aggregation, one keyed shuffle).

    Semantics pinned equal to the fold (tests/test_r12_optimizations):
    same ±1 votes, same strict ``sum > 0`` bit rule, and a NULL text —
    which explode would silently drop — comes back via the left join
    with the fold's fingerprint for NULL input (0).

    Precondition (ADVICE r12): ``id_col`` must be UNIQUE and non-NULL
    per row. Votes are grouped by id, so rows sharing an id (or with
    NULL ids, which groupBy buckets together) get ONE merged fingerprint
    fanned back to every such row — the per-row fold form would have
    fingerprinted each row independently. Every caller in this repo
    (``dedup_simhash`` and the suite entries) feeds a unique document
    id; passing a non-unique id is a contract violation, not a
    supported mode.
    """
    width = getattr(token_hash, "hash_bits", 64) if token_hash is not None else 64
    if bits > width:
        raise ValueError(
            f"simhash bits={bits} exceeds token_hash width {width}; "
            f"pass bits<={width} (md5_token_hash is 60-bit)"
        )
    tokens = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    tok_hash = (token_hash or (lambda t: F.xxhash64(t)))(F.col("__tok"))
    ex = df.select(F.col(id_col).alias("__id"), F.explode(tokens).alias("__tok")).select(
        "__id", tok_hash.alias("__h")
    )
    aggs = []
    for b in range(bits):
        vote = F.sum(
            F.when(
                F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        )
        bit_val = (1 << b) if b < 63 else -(1 << 63)
        aggs.append(
            F.when(vote > 0, F.lit(bit_val).cast("bigint"))
            .otherwise(F.lit(0).cast("bigint"))
            .alias(f"__b{b}")
        )
    votes = ex.groupBy("__id").agg(*aggs)
    fp_sum = F.lit(0).cast("bigint")
    for b in range(bits):
        fp_sum = fp_sum + F.col(f"__b{b}")
    fps = votes.select("__id", fp_sum.alias("__fp"))
    return (
        df.select(F.col(id_col).alias("__id"))
        .join(fps, "__id", "left")
        .select("__id", F.coalesce("__fp", F.lit(0).cast("bigint")).alias("__fp"))
    )


def dedup_simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_hamming: int = 3,
    bits: int = 64,
    token_hash=None,
    materialize: bool = True,
) -> DataFrame:
    """Near-dup removal via SimHash + (bits/4)-bit chunk bucketing.

    Two fingerprints within Hamming distance ≤ 3 share at least one of
    their four chunks (pigeonhole), so candidates come from a bucket
    join on (chunk_id, chunk_value) — never all-pairs. Exact Hamming
    distance then filters candidates; lowest id survives.
    """
    width = bits // 4
    mask = (1 << width) - 1
    # the codegen explode+groupBy formulation (bit-identical; see
    # simhash_fingerprints) — the per-row fold stayed available as the
    # Column API for expression contexts
    fp = simhash_fingerprints(
        df, text_col, id_col, bits=bits, token_hash=token_hash
    )
    if materialize:
        # the fingerprint fold (``bits`` interpreted aggregate passes
        # over every token — by far the expensive stage) feeds BOTH
        # sides of the chunk self-join, and the final anti-join is
        # duplicated by Catalyst into every union branch of a composite
        # ``df`` — measured 4 full fingerprint computations in one plan
        # (r12). Persist + force once (the count guarantees a single
        # computation even when the join's map stages race on different
        # executors — the semantic_dedup pattern), checkpoint the tiny
        # dropped-id set, release before returning.
        fp = _persist(fp, "dedup_simhash")
        fp.count()
    chunks = fp.select(
        "__id",
        "__fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftright(F.col("__fp"), width * i)
                        .bitwiseAND(F.lit(mask))
                        .alias("cv"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("__c"),
    ).select("__id", "__fp", F.col("__c.ci").alias("__ci"), F.col("__c.cv").alias("__cv"))

    a = chunks.select(F.col("__id").alias("id_a"), F.col("__fp").alias("fp_a"), "__ci", "__cv")
    b = chunks.select(F.col("__id").alias("id_b"), F.col("__fp").alias("fp_b"), "__ci", "__cv")
    cand = (
        a.join(b, on=["__ci", "__cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    dupes = cand.filter(ham <= max_hamming).select(F.col("id_b").alias("__dup")).distinct()
    if materialize:
        from palo_spark.operators.cache import _materialize, _release_frames

        try:
            dupes = _materialize(dupes)
        finally:
            _release_frames(fp)
    return df.join(dupes, df[id_col] == dupes["__dup"], "left_anti")


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    threshold: float = 0.99,
    n_planes: int = 128,
    bands: int = 16,
    seed: int = 42,
    quantized: bool = False,
    materialize: bool = True,
) -> DataFrame:
    """Embedding-cosine near-dup candidate pairs, LSH-bucketed.

    Candidate generation: banded sign-LSH over ``n_planes``
    deterministic hyperplanes — a self-join on ``(band_id, band_bits)``,
    never all-pairs. With the defaults (128 planes / 16 bands = 8 bits
    per band) and threshold 0.99 (θ ≈ 8.1°, per-bit agreement
    p = 1 − θ/π ≈ 0.955): a true pair shares a band with probability
    1 − (1 − p⁸)¹⁶ ≈ 1 − 7e-9, while an uncorrelated pair collides in a
    given band with probability ~2⁻⁸ — each band partitions the corpus
    into up to 256 buckets, so expected candidates are ~bands·n²/2⁸·n
    ≈ n²/16 only in the adversarial all-identical case and ~n·bands·
    (n/2⁸) uniformly. At larger corpora raise bits-per-band toward
    log₂(n) (e.g. 512 planes / 16 bands = 32 bits at 10⁹ vectors:
    recall 1 − (1 − 0.955³²)¹⁶ ≈ 0.98, near-constant bucket occupancy);
    the exact-cosine verify keeps the OUTPUT hash-independent either
    way — only candidate volume, not correctness, is at stake.

    Returns (id_a, id_b, score) with id_a < id_b and score ≥ threshold.
    """
    from palo_spark.operators.similarity import (
        cosine_similarity,
        hyperplanes,
        lsh_band_bits,
    )

    dim = len(df.select(vec_col).head()[0])
    planes = hyperplanes(dim, n_planes, seed)

    sig = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        lsh_band_bits(F.col(vec_col), planes, bands).alias("__bk"),
    )  # feeds both sides of the band self-join AND the verify re-attach
    if materialize:
        # r13: eager checkpoint instead of an UNFORCED persist — the
        # four consumers below (bucket sides a/b, vector re-attach
        # va/vb) are separate map stages of one job that raced on the
        # unpopulated cache, re-running the interpreted band fold up to
        # 4×; the checkpoint computes it exactly once and every
        # consumer reads stored blocks.
        from palo_spark.operators.cache import _materialize

        sig = _materialize(sig)
    else:
        sig = _persist(sig, "embedding_dup_pairs")
    # Band join carries IDs ONLY — the 16×-exploded shuffle would
    # otherwise ship every vector 16 times; vectors are re-attached to
    # the (deduped) candidate pairs from the persisted signature stage,
    # so each vector crosses the wire once per side of the verify join.
    buckets = sig.select(
        "__id", F.posexplode("__bk").alias("__band", "__bits")
    )
    a = buckets.select(F.col("__id").alias("id_a"), "__band", "__bits")
    b = buckets.select(F.col("__id").alias("id_b"), "__band", "__bits")
    cand_ids = (
        a.join(b, on=["__band", "__bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = sig.select(F.col("__id").alias("id_a"), F.col("__v").alias("v_a"))
    vb = sig.select(F.col("__id").alias("id_b"), F.col("__v").alias("v_b"))
    cand = cand_ids.join(va, "id_a").join(vb, "id_b")
    out = (
        cand.withColumn(
            "score", cosine_similarity("v_a", "v_b", quantized=quantized)
        )
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )
    if materialize:
        # the verified near-dup pair set is the operator's whole output
        # and is bounded by true duplicate volume — checkpoint it: the
        # standard consumer (resolve_dup_clusters) reads the pair list
        # TWICE (forward + swapped edge union), so a lazy return would
        # run the band join + verify per read even from sig's blocks.
        from palo_spark.operators.cache import _materialize

        out = _materialize(out)
    return out


def dedup_embedding_cosine(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    threshold: float = 0.99,
    n_planes: int = 32,
    bands: int = 16,
    seed: int = 42,
    quantized: bool = False,
    materialize: bool = True,
) -> DataFrame:
    """Embedding-cosine near-dup removal: drop every row that has a
    lower-id neighbor at cosine ≥ threshold (single-hop canonicalization,
    same contract as the text dedups). LSH-bucketed candidates + exact
    verify — scale path identical to :func:`dedup_minhash`."""
    pairs = embedding_dup_pairs(
        df,
        vec_col,
        id_col,
        threshold=threshold,
        n_planes=n_planes,
        bands=bands,
        seed=seed,
        quantized=quantized,
        materialize=materialize,
    )
    dupes = pairs.select(F.col("id_b").alias("__dup")).distinct()
    return df.join(dupes, df[id_col] == dupes["__dup"], "left_anti")


def dedup_exact_keep_best(
    df: DataFrame,
    cols: list[str] | None = None,
    score_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup keeping the BEST duplicate: highest ``score_col``
    (ties → lowest ``id_col``) per distinct key — the form a training
    pipeline actually wants (keep the longest/cleanest copy, not an
    arbitrary first). Same single key-shuffle WindowGroupLimit plan as
    :func:`dedup_exact`; only the ordering differs."""
    if cols is None:
        keyed = df.withColumn("__key", content_hash("text"))
        key_cols = ["__key"]
    else:
        keyed = df
        key_cols = list(cols)
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__key")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for candidate pairs.

    Inverted-index join: explode distinct n-grams, join docs sharing an
    n-gram, count intersections, compute |A∩B| / (|A|+|B|−|A∩B|).
    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥
    threshold. Exact — and still bucket-joined, not all-pairs: disjoint
    docs never meet.
    """
    tokens = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    idx = F.sequence(F.lit(1), F.greatest(F.size(tokens) - F.lit(n - 1), F.lit(1)))
    grams = F.array_distinct(
        F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(tokens, i, n))
        )
    )
    g = df.select(F.col(id_col).alias("__id"), grams.alias("__g")).withColumn(
        "__n", F.size("__g")
    )
    ex = g.select("__id", "__n", F.explode("__g").alias("__gram"))
    a = ex.select(F.col("__id").alias("id_a"), F.col("__n").alias("n_a"), "__gram")
    b = ex.select(F.col("__id").alias("id_b"), F.col("__n").alias("n_b"), "__gram")
    inter = (
        a.join(b, "__gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count("*").alias("__inter"))
    )
    jac = inter.withColumn(
        "jaccard",
        F.col("__inter") / (F.col("n_a") + F.col("n_b") - F.col("__inter")),
    )
    return jac.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def resolve_dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    *,
    max_iter: int = 25,
) -> DataFrame:
    """Resolve duplicate *pairs* into duplicate *clusters* (connected
    components): every id that appears in ``pairs`` is labelled with the
    minimum id reachable through the pair graph.

    A near-dup pipeline (MinHash / SimHash / embedding LSH) emits pairs;
    keeping "one doc per pair" is wrong when dups chain (A~B, B~C must
    collapse to ONE survivor, though A~C was never emitted). This is the
    transitive-closure step Doris has no analog for — standard in
    training-data dedup (cf. the CCF/"connected components in MapReduce"
    formulation, Kiveris et al.).

    Algorithm: hash-min label propagation with pointer jumping —
    per round, each node takes the min label over itself, its
    neighbours' labels, and its label's label (path halving). Rounds =
    O(log(longest chain)); near-dup clusters are star-ish, so 2-3
    rounds typical. Each round is two keyed shuffles over the edge
    list — no driver-side graph, no all-pairs. Scale notes:

    - the edge list is the *pair* output, orders of magnitude smaller
      than the corpus;
    - per-round ``localCheckpoint`` truncates lineage (on a real
      cluster use ``spark.sparkContext.setCheckpointDir`` + rdd
      checkpointing for fault tolerance instead);
    - convergence is detected with a limit-1 emptiness probe over
      changed labels (short-circuits; never a full count).

    Returns ``(node, cluster)``, one row per distinct id in ``pairs``.
    """
    e = pairs.select(
        F.col(id_a).cast("long").alias("u"), F.col(id_b).cast("long").alias("v")
    )
    edges = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    edges = edges.localCheckpoint(eager=True)

    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("cluster", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for it in range(max_iter):
        # min label among neighbours
        nbr = (
            edges.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy("u")
            .agg(F.min("cluster").alias("nbr_min"))
            .withColumnRenamed("u", "node")
        )
        stepped = labels.join(nbr, "node", "left").select(
            "node",
            F.least("cluster", F.coalesce("nbr_min", "cluster")).alias("cluster"),
            F.col("cluster").alias("prev"),
        )
        if it == 0:
            # round 1's pointer jump is identity (labels start as
            # node=cluster) — skip the join entirely
            new_labels = stepped.localCheckpoint(eager=True)
        else:
            # pointer jump: cluster <- label(cluster)
            jump = labels.select(
                F.col("node").alias("cluster"), F.col("cluster").alias("jump_min")
            )
            new_labels = (
                stepped.join(jump, "cluster", "left")
                .select(
                    "node",
                    F.least(
                        "cluster", F.coalesce("jump_min", "cluster")
                    ).alias("cluster"),
                    "prev",
                )
                .localCheckpoint(eager=True)
            )
        # limit-1 emptiness probe, not a full count — convergence needs
        # only "did anything change", and the probe short-circuits
        changed = not new_labels.filter(F.col("cluster") != F.col("prev")).isEmpty()
        labels = new_labels.drop("prev")
        if not changed:
            break
    return labels


def dedup_by_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    *,
    max_iter: int = 25,
) -> DataFrame:
    """Remove near-duplicates given a pair list: resolve pairs into
    clusters (:func:`resolve_dup_clusters`) and keep the minimum-id
    member of each cluster plus every unpaired doc. The anti-join ships
    only (id, cluster) — never document payloads — so the survivor
    filter is a semi/anti join on ids at any scale."""
    clusters = resolve_dup_clusters(pairs, max_iter=max_iter)
    losers = clusters.filter(F.col("node") != F.col("cluster")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    centroids: list,
    threshold: float = 0.99,
    quantized: bool = True,
    materialize: bool = True,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023,
    arXiv:2303.09540): cluster-bounded pairwise cosine dedup over an
    embedding column.

    Pipeline: (1) assign each vector to its nearest centroid — argmax
    cosine against the k literal centroids, a pure JVM fold per row, no
    shuffle; (2) candidate pairs are generated ONLY within a cell (one
    hash shuffle on the cell id — never an all-pairs cross join);
    (3) any pair with cosine ≥ ``threshold`` drops the higher id
    ("keep earliest", the paper's keep-one-per-group greedy with a
    deterministic representative). ``quantized=True`` scores with exact
    integer-quantized dots (bit-stable across engines/summation orders).

    Scale: cost is Σ|cell|² ≈ n²/k for balanced cells — choose
    k ≈ n/10⁴ so each cell's pairwise block stays ~10⁸ ops; cells are
    independent keys, so AQE skew-split handles hot cells, and the same
    cell id doubles as a parquet partition key at rest (the SemDeDup
    cluster layout IS the IVF layout from similarity.py). A scaled or
    duplicated vector has identical cosine to every centroid, hence the
    same argmax cell as its original — planted duplicates can never be
    split across cells by the assignment step.
    """
    from palo_spark.operators.similarity import (
        _dot,
        _norm,
        _qdot,
        ivf_assign,
    )

    base = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    ).withColumn("__cell", ivf_assign("__v", centroids))
    # self-dot (the cosine denominator half) is row-constant: computing
    # it ONCE per vector here instead of per candidate pair cuts the
    # interpreted-lambda fold count per pair from 3 to 1 (higher-order
    # functions never reach codegen — the r5 pitfall; measured 3.9 s →
    # ~2 s on the sf0.1 bench entry). Bit-identical: the same integer
    # qdot(v,v) (resp. double norm) feeds the same final expression.
    if quantized:
        # one-parse SQL twin of _qdot (see similarity._dot_sql)
        from palo_spark.operators.similarity import _qdot_sql

        base = base.withColumn("__n", F.expr(_qdot_sql("`__v`", "`__v`")))
    else:
        base = base.withColumn("__n", _norm(F.col("__v")))
    # the assigned+normed frame feeds BOTH sides of the candidate join
    # (and the interpreted assign/norm folds are the expensive part of a
    # row) — compute the folds once per row, not once per plan branch.
    if materialize:
        # decision-frame batcher (r13, §1.2 job-count floor): ONE eager
        # checkpoint of the assigned+normed frame replaces the persist +
        # force-count + dup-set-checkpoint pair; both sides of the
        # candidate self-join read the stored blocks, and the dropped-id
        # set stays LAZY in the returned anti-join (bounded rows, and
        # any per-branch re-probe of a composite caller runs from
        # blocks, never re-running the folds).
        from palo_spark.operators.cache import _materialize

        base = _materialize(base)
    else:
        base = _persist(base, "semantic_dedup")
        base.count()  # materialize before the self-join forks the plan
    a = base.select(
        "__cell", F.col("__id").alias("id_a"), F.col("__v").alias("va"),
        F.col("__n").alias("na"),
    )
    b = base.select(
        "__cell", F.col("__id").alias("id_b"), F.col("__v").alias("vb"),
        F.col("__n").alias("nb"),
    )
    if quantized:
        from palo_spark.operators.similarity import _qdot_sql

        score = F.expr(
            f"(CAST({_qdot_sql('`va`', '`vb`')} AS DOUBLE) / "
            "SQRT((CAST(`na` AS DOUBLE) * CAST(`nb` AS DOUBLE))))"
        )
    else:
        score = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    dup = (
        a.join(b, "__cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(score >= F.lit(threshold))
        .select(F.col("id_b").alias("__dup"))
        .distinct()
    )
    return df.join(dup, df[id_col] == dup["__dup"], "left_anti")


def substring_dup_docs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 16,
    stride: int = 1,
    window: int | None = None,
    hash_grams: bool = True,
    materialize: bool = True,
) -> DataFrame:
    """Exact-substring dedup at document granularity (the signal from
    Lee et al. 2022, arXiv:2107.06499 "Deduplicating Training Data
    Makes Language Models Better": any k-token span shared verbatim
    across documents marks a duplicate — catches quotes, licenses, and
    boilerplate that Jaccard/MinHash miss on otherwise-different docs).

    A distributed suffix array is unnecessary for the doc-level
    decision: emit k-token grams, shuffle once on the gram key, keep
    the minimum id per gram, and drop any doc that contains a gram
    first seen in an earlier doc. ``hash_grams=True`` (default, the
    scale path) keys the shuffle on ``xxhash64(gram)`` so long span
    strings never ship — a collision falsely dropping a doc has
    probability ≈ n_grams²/2⁶⁴; ``False`` keys on the span text itself
    (exact, oracle-replayable).

    Gram-volume knobs (the cost lever at 100 TB — full emission is one
    gram per token position):

    - ``window=w`` — winnowing (Schleimer et al. 2003, SIGMOD):
      per doc, select the minimum-``xxhash64`` gram of every run of
      ``w`` consecutive positions. Selection depends only on the span
      CONTENT, never the span's offset in the doc, so any span of
      length ≥ k + w − 1 shared by two docs selects at least one
      identical gram in both — a real guarantee at ~``2/(w+1)`` of the
      full gram volume. This is the knob to reach for.
    - ``stride=s`` — fixed-grid subsampling (positions ``0, s, 2s…``).
      CHEAPER BUT NO GUARANTEE: the two docs' grids can misalign over
      the shared span (offsets differ mod s), so a shared span of any
      length can be missed with probability ≈ (s−1)/s. Best-effort
      sampling only; prefer ``window``.
    """
    from palo_spark.operators.text import tokenize

    # Stage the computation as MATERIALIZED projections (__toks, __grams,
    # __h as real columns), never nested expression trees: higher-order
    # lambdas are interpreted, so an expression referenced inside a
    # lambda body is RE-EVALUATED per element — composing tokenize
    # inside the per-gram lambda costs O(tokens²) chars per row, and
    # the winnow argmin over an inline hash array costs O(grams²·k).
    # Column references are O(1); Catalyst keeps the projections apart
    # because the defining expressions are expensive and multi-referenced
    # (collapseProjectAlwaysInline=false default).
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    src = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
    if src.rdd.getNumPartitions() < parallelism:
        # few-file inputs (one parquet footer at small SF) would run the
        # whole gram projection on 1-2 tasks; the doc table is narrow
        # here (id + text), so this shuffle is cheap insurance
        src = src.repartition(parallelism)
    staged = src.select("__id", tokenize(F.col("__text")).alias("__toks"))
    toks = F.col("__toks")
    n_eff = F.size(toks) - F.lit(k - 1)
    starts = F.when(
        n_eff > 0, F.transform(F.sequence(F.lit(0), n_eff - 1), lambda i: i)
    ).otherwise(F.array().cast("array<int>"))
    if stride > 1:
        starts = F.filter(starts, lambda i: i % stride == 0)
    staged = staged.select(
        "__id",
        F.transform(
            starts, lambda i: F.array_join(F.slice(toks, i + 1, k), " ")
        ).alias("__grams"),
    )
    if window is not None and window > 1:
        # robust winnowing: for each w-window of consecutive gram
        # positions take the (first-occurrence) min-hash position; the
        # distinct set of winners is the fingerprint. O(n·w) element
        # ops per row over the materialized __h column.
        w = int(window)
        staged = staged.select(
            "__id",
            "__grams",
            F.transform(F.col("__grams"), lambda g: F.xxhash64(g)).alias("__h"),
        )
        hashes = F.col("__h")
        n_win = F.size(hashes) - F.lit(w - 1)
        win_starts = F.when(
            n_win > 0,
            F.transform(F.sequence(F.lit(0), n_win - 1), lambda j: j),
        ).otherwise(F.array().cast("array<int>"))
        winners = F.array_distinct(
            F.transform(
                win_starts,
                lambda j: j
                + F.array_position(
                    F.slice(hashes, j + 1, w),
                    F.array_min(F.slice(hashes, j + 1, w)),
                )
                - 1,
            )
        )
        # short docs (>= 1 gram but < w of them): keep their single
        # min-hash gram so they still participate in the index
        short_min = F.when(
            (F.size(hashes) > 0) & (n_win <= 0),
            F.array(F.array_position(hashes, F.array_min(hashes)) - 1),
        ).otherwise(F.array().cast("array<bigint>"))
        sel = F.when(n_win > 0, winners).otherwise(short_min)
        grams_col = F.col("__grams")
        staged = staged.select(
            "__id",
            F.transform(
                sel, lambda i: F.element_at(grams_col, i.cast("int") + 1)
            ).alias("__grams"),
        )
    exploded = staged.select(
        "__id", F.explode(F.array_distinct(F.col("__grams"))).alias("__gram")
    )
    if hash_grams:
        exploded = exploded.select("__id", F.xxhash64("__gram").alias("__gram"))
    # first-seen-per-gram as a window MIN over the one gram exchange
    # (r12, guide §2.4): the former groupBy(first_seen) + equi-join
    # consumed `exploded` TWICE — and the gram projection (interpreted
    # higher-order lambdas over every token position) is by far the
    # expensive stage, so the plan paid it once to build the broadcast
    # and once to probe it. partitionBy(__gram) needs the exact same
    # hash exchange the groupBy needed; the window min then decides
    # first-seen in place. Same rows out: id > min(id over gram) ⇔
    # id > first_seen(gram).
    w_gram = Window.partitionBy("__gram")
    dup = (
        exploded.withColumn("__first", F.min("__id").over(w_gram))
        .filter(F.col("__id") > F.col("__first"))
        .select(F.col("__id").alias("__dup"))
        .distinct()
    )
    if materialize:
        # dropped-id set (ids only, bounded by duplicate volume):
        # checkpoint it so the left-anti probe below — which Catalyst
        # duplicates into every union branch of a composite `df` —
        # reuses the computed set instead of re-running the whole gram
        # pipeline per branch (measured 4 full gram stages in one plan
        # before r12: 2 union branches × {build, probe}). Structural
        # lifecycle, r9; same shape as semantic_dedup above.
        from palo_spark.operators.cache import _materialize

        dup = _materialize(dup)
    return df.join(dup, df[id_col] == dup["__dup"], "left_anti")


def snapshot_fingerprints(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-snapshot fingerprint set for incremental dedup: one
    md5(normalized text) per kept document. md5 (not xxhash64) because
    snapshot fingerprints OUTLIVE the engine run — they get persisted,
    exchanged between systems, and replayed by oracles, so the hash must
    be engine-portable. 16 bytes/doc: a 100-billion-doc corpus is a
    ~3 TB fingerprint table — write it bucketed by the fingerprint so
    every future batch anti-joins against it with NO shuffle on the
    (huge) snapshot side."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.select(
        F.md5(norm).alias("fingerprint"), F.col(id_col).alias("snapshot_id")
    )


def dedup_incremental(
    batch: DataFrame,
    snapshot: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental (cross-snapshot) dedup: drop batch docs whose
    normalized content already exists in a prior corpus snapshot, then
    exact-dedup the batch against itself (keep lowest id).

    This is the recrawl workhorse: the full corpus is never rescanned —
    only the (small) new batch shuffles, anti-joined against the
    snapshot's fingerprint set from :func:`snapshot_fingerprints`. At
    scale the anti-join is a shuffled hash join keyed on the
    fingerprint; Spark's runtime bloom filter (enabled in the session
    posture) pre-prunes batch rows before the exchange, and a bucketed
    snapshot table removes the snapshot-side shuffle entirely."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    keyed = batch.withColumn("__fp", F.md5(norm))
    fresh = keyed.join(
        snapshot.select(F.col("fingerprint").alias("__fp")), on="__fp", how="left_anti"
    )
    # within-batch exact dedup: first occurrence (lowest id) survives.
    # Window MIN over one __fp exchange, NOT groupBy + self-semi-join
    # (r12 substring_dup_docs form, guide §2.4): the join form consumed
    # `fresh` twice, and when `batch` is a union Catalyst pushes the
    # semi-join into every branch — the aggregate subtree (itself the
    # whole union) was re-planned per branch (measured: 30 broadcast
    # joins / 12 corpus scans in one sf0.1 plan; the window form plans
    # 3 scans, one per branch). Same rows: id == min(id) over fp ⇔
    # semi-join on (fp, min(id) per fp).
    w_fp = Window.partitionBy("__fp")
    return (
        fresh.withColumn("__min", F.min(id_col).over(w_fp))
        .filter(F.col(id_col) == F.col("__min"))
        .drop("__fp", "__min")
    )
