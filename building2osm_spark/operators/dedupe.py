"""Deduplication operators for large-scale training-data pipelines.

Not in the reference (its only dedup is the ref anti-join J4 and the
consecutive-vertex dedupe P2) — these are the engine-native additions the
task brief mandates: exact, MinHash+LSH, SimHash, n-gram Jaccard, and
embedding-cosine near-dup, all over the `documents` / `embeddings` tables.

Scale notes:
  * exact dedup: one hash aggregation on a digest column — the digest is
    computed JVM-side (md5/xxhash64), so the shuffle carries 16 bytes per
    row, not the document text;
  * MinHash: signatures via per-shingle 64-way universal hashing folded
    with element-wise mins in one map-only Arrow kernel (numpy reduceat
    over the batch); LSH banding turns the O(n²) pair space into
    per-bucket candidate joins;
  * SimHash: fully native bit votes — explode words → base hash → 64
    conditional-sum aggregates → bit pack (zero Python), then exact
    hamming-ball pairing within LSH-style chunks (pigeonhole: two 64-bit
    hashes within hamming distance d share at least one of d+1 chunks);
  * pair joins carry IDs only: candidate (id_a, id_b) sets are
    deduplicated BEFORE payloads (signatures / embedding vectors) are
    re-joined, so the distinct shuffle moves 16-byte keys, not vectors.

Shingle front end: every shingle-hash operator reads one word binding
(_words: split(lower(text)) projected once) through _doc_hashes, and the
ones with a Python kernel cross the Arrow boundary in one reader
(_doc_kernel).

Cross-engine verifiability: the canonical word/shingle base hash is the
first 60 bits of md5 (`functions.text._base60`) — computable bit-identically in Spark
(conv(substring(md5(x),1,15),16,10)) and ANSI SQL engines like DuckDB
(CAST('0x'||substring(md5(x),1,15) AS UBIGINT)), so every hash-derived
result here has an exact independent SQL oracle. xxhash64 is available
as the faster JVM-only alternative (`base_hash='xxhash64'`).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from numpy.lib.stride_tricks import sliding_window_view
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import _base60
from .components import connected_components

# 31-bit Mersenne prime: universal-hash products stay < 2^62 (no int64
# overflow under Spark's default ANSI arithmetic)
_MERSENNE = (1 << 31) - 1


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per identical text (digest-grouped)."""
    w = Window.partitionBy("__digest").orderBy(id_col)
    return (
        df.withColumn("__digest", F.md5(F.col(text_col)))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__digest", "__rn")
    )


def _hash_params(n_hashes: int, seed: int = 42):
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, n_hashes, dtype=np.int64)
    b = rng.integers(0, _MERSENNE, n_hashes, dtype=np.int64)
    return a.tolist(), b.tolist()


def _base_hash(col, base_hash: str) -> F.Column:
    """Base hash reduced mod the Mersenne prime (so a·h+b stays < 2^62)."""
    if base_hash == "md5":
        return _base60(col) % _MERSENNE
    if base_hash == "xxhash64":
        # pmod, not abs(...)%M: abs(Long.MIN_VALUE) is an ANSI
        # ARITHMETIC_OVERFLOW — a 2^-64-per-value hard job abort at corpus scale
        return F.pmod(F.xxhash64(col), F.lit(_MERSENNE))
    raise ValueError(f"unknown base_hash {base_hash!r}")


def _words(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, __w array<string>) — the shingle family's one word binding.
    NULL text is no document and is dropped (the md5 shingle builder would
    otherwise hash NULL as '' via concat_ws's null-skipping and pair every
    NULL doc with every empty doc); split(lower(text)) is projected as a
    column exactly once. Every shingle expression reads the bound column:
    a split inlined into the shingle lambda is re-evaluated per shingle,
    O(words²) per document (measured 78.9 s vs 3.9 s at 360 words)."""
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.split(F.lower(F.col(text_col)), r"\s+").alias("__w")
    )


def _shingles(words: F.Column, k: int) -> F.Column:
    """k-word shingle strings over a BOUND words column (see _words); a
    document shorter than k words is one whole-text shingle, so the array
    is never empty."""
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(
        n >= k, F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)))
    ).otherwise(F.array(F.concat_ws(" ", words)))


def _doc_hashes(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    base_hash: str,
    fold: bool = True,
) -> DataFrame:
    """(id, __h array<long>) — the shingle family's one front end: per
    non-NULL document, the base hashes mod M of its k-word shingles, over
    the _words binding. Never empty.

    base_hash='md5' hashes the literal shingle STRINGS (bit-reproducible
    in ANSI SQL). 'xxhash64' never materializes strings — each word hashes
    once and a shingle's base is the polynomial of its k word hashes
    (acc·1000003 + h mod M from acc=0; a document shorter than k words
    folds whole), since building k-word substrings costs ~10× everything
    else combined at corpus scale. fold=False returns the xxhash64 WORD
    hashes unfolded, for the Arrow kernels that run the polynomial in
    numpy (_poly_windows_np). At k=1 every form is the per-word hash."""
    words = _words(df, text_col, id_col)
    if base_hash != "xxhash64" and k > 1:
        return words.select(
            F.col(id_col),
            F.transform(
                _shingles(F.col("__w"), k), lambda s: _base_hash(s, base_hash)
            ).alias("__h"),
        )
    hs = words.select(
        F.col(id_col),
        F.transform("__w", lambda w: _base_hash(w, base_hash)).alias("__h"),
    )
    if k == 1 or not fold:
        return hs
    # unrolled element_at polynomial (identical values to an
    # aggregate(slice(...)) fold — same fold order from acc=0): slice()
    # allocated a fresh k-array per shingle, pure per-shingle allocation
    # churn on the hottest expression
    poly = "0L"
    for j in range(k):
        poly = f"({poly} * 1000003 + element_at(__h, i + {j + 1})) % {_MERSENNE}"
    return hs.select(
        F.col(id_col),
        F.expr(
            f"CASE WHEN size(__h) >= {k} THEN"
            f" transform(sequence(0, size(__h) - {k}), i -> {poly})"
            f" ELSE array(aggregate(__h, 0L,"
            f" (acc, x) -> (acc * 1000003 + x) % {_MERSENNE})) END"
        ).alias("__h"),
    )


def _poly_windows_np(flat, lens, k: int):
    """Vectorized per-document sliding k-polynomial over the concatenated
    word-hash arrays of one Arrow batch (flat int64 values + per-doc
    lens). Matches the JVM fold of _doc_hashes exactly: n-k+1 window
    polynomials (acc·1000003 + h mod M, acc from 0) when n >= k, else ONE
    whole-doc Horner fold. Returns (bases_flat, out_lens).

    Round-6 measurement: the JVM per-window polynomial cost ~2.6 s of the
    3.35 s scan floor at 500k docs (k=8) against ~0.76 s for the word
    hashing itself; k vectorized multiply-add-mod passes over the WHOLE
    batch compute identical values at a fraction of the cost. Per-doc
    boundaries are enforced afterwards by masking window positions whose
    start and end fall in different documents. acc < M = 2^31 keeps
    acc·1000003 < 2^51 — int64-safe, same bound as the JVM form."""
    n_docs = lens.size
    starts = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    out_lens = np.where(lens >= k, lens - k + 1, 1).astype(np.int64)
    out = np.empty(int(out_lens.sum()), dtype=np.int64)
    W = flat.size - k + 1
    if W > 0:
        b = np.zeros(W, dtype=np.int64)
        for j in range(k):
            np.multiply(b, 1000003, out=b)
            np.add(b, flat[j:j + W], out=b)
            np.mod(b, _MERSENNE, out=b)
        doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), lens)
        valid = doc_of[:W] == doc_of[k - 1:]
    else:
        b = np.empty(0, dtype=np.int64)
        valid = np.empty(0, dtype=bool)
    long_doc = lens >= k
    out_doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), out_lens)
    out_is_long = long_doc[out_doc_of]
    out[out_is_long] = b[valid]
    for d in np.flatnonzero(~long_doc):  # short docs: rare, loop is fine
        acc = 0
        for x in flat[starts[d]:starts[d] + lens[d]]:
            acc = (acc * 1000003 + int(x)) % _MERSENNE
        out[out_doc_of == d] = acc
    return out, out_lens


def _flat_lists(batch_col):
    """(flat int64 values, per-row lens) of an Arrow list column —
    flatten()/value_lengths() respect a slice offset, which the raw
    offsets buffer does not."""
    flat = batch_col.flatten().to_numpy(zero_copy_only=False).astype(
        np.int64, copy=False
    )
    lens = batch_col.value_lengths().to_numpy(zero_copy_only=False).astype(
        np.int64, copy=False
    )
    return flat, lens


def _doc_kernel(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    base_hash: str,
    per_batch,
    out_cols: str,
) -> DataFrame:
    """The shingle family's one Python boundary: a map-only mapInArrow
    over the front end's (id, __h) arrays. Each non-empty Arrow batch is
    read once — flat int64 bases plus per-document lens, the xxhash64
    k-polynomial folded in numpy (_poly_windows_np) — and handed to
    `per_batch(ids, bases, lens)`, which returns the output RecordBatch
    (id_col plus `out_cols`, a DDL column list)."""
    src = _doc_hashes(df, text_col, id_col, k, base_hash, fold=False)
    poly = base_hash == "xxhash64"

    def kernel(batches):
        for batch in batches:
            ids, lst = batch.column(0), batch.column(1)
            if len(lst) == 0:
                continue
            flat, lens = _flat_lists(lst)
            # every list must be non-null with >=1 element (the _words
            # contract): an empty slice would make a reduceat silently read
            # the NEXT document's first hash, and a null list arrives as
            # float64 NaN -> garbage int64. Fail loudly instead.
            if lst.null_count or lens.min() == 0:
                raise AssertionError(
                    "shingle kernel: input must be non-null lists with >=1 "
                    "element (upstream contract violated)"
                )
            if poly:
                flat, lens = _poly_windows_np(flat, lens, k)
            yield per_batch(ids, flat, lens)

    id_t = src.schema[id_col].dataType.simpleString()
    return src.mapInArrow(kernel, f"{id_col} {id_t}, {out_cols}")


def _unique_rows(ids, doc_of, vals, id_col: str):
    """(id, __h) RecordBatch of each document's DISTINCT values, without a
    per-document Python loop: vals < 2^31, so (doc_index << 31) | val is
    collision-free within a batch and ONE np.unique over the packed keys
    yields every document's sorted distinct values; ids come back via a
    vectorized Arrow take."""
    ukeys = np.unique((doc_of << 31) | vals)
    return pa.RecordBatch.from_arrays(
        [
            ids.take(pa.array(ukeys >> 31, type=pa.int32())),
            pa.array(ukeys & np.int64((1 << 31) - 1), type=pa.int64()),
        ],
        [id_col, "__h"],
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    shingle_k: int = 3,
    seed: int = 42,
    base_hash: str = "md5",
) -> DataFrame:
    """(id, sig array<long>[n_hashes]) — MAP-ONLY plan, no shuffle at all.

    Per shingle: base = base_hash(shingle) mod M; slot i = (a_i·base + b_i)
    mod M (universal hashing over the Mersenne prime 2^31−1); signature
    slot i = min over the document's shingles.

    The shingle bases come from the front end (_doc_hashes), then the
    mapInArrow kernel (_doc_kernel) does the n_hashes min-folds in numpy:
    each fold is one vectorized (flat·a_i + b_i) mod M pass followed by
    `np.minimum.reduceat` at the document offsets. Measured at 500k docs
    (120-word docs, forced evaluation): 4.5 s vs 13.9 s for the all-JVM
    `array_min(transform(...))` form — and 4.0 s is the bases-computation
    floor, so the fold cost ~vanishes. Values are bit-identical to that
    form (the same int64 arithmetic; it is the test reference). A
    shift/mask Mersenne reduction instead of np.mod was measured SLOWER
    (10.3 s — extra temporaries beat the div savings; NOTES). Selection
    stays map-only so the 100 TB shape is unchanged; the Arrow boundary
    adds one batch serde of the bases arrays, already paid for by the 3×
    fold win.

    base_hash='md5' (default) hashes the literal k-word shingle strings —
    bit-reproducible in ANSI SQL (exact DuckDB oracle). 'xxhash64' is the
    JVM-only fast path that never materializes shingle STRINGS (see
    _doc_hashes); shingle identity is collision-equivalent, values differ
    from the md5 form.
    """
    a, b = _hash_params(n_hashes, seed)

    def signatures(ids, flat, lens):
        n = lens.size
        starts = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        sig = np.empty((n, n_hashes), dtype=np.int64)
        tmp = np.empty_like(flat)
        for i in range(n_hashes):
            np.multiply(flat, a[i], out=tmp)
            np.add(tmp, b[i], out=tmp)
            np.mod(tmp, _MERSENNE, out=tmp)
            sig[:, i] = np.minimum.reduceat(tmp, starts)
        offs = np.arange(0, (n + 1) * n_hashes, n_hashes, dtype=np.int32)
        return pa.RecordBatch.from_arrays(
            [
                ids,
                pa.ListArray.from_arrays(
                    pa.array(offs, type=pa.int32()),
                    pa.array(sig.reshape(-1), type=pa.int64()),
                ),
            ],
            [id_col, "sig"],
        )

    return _doc_kernel(
        df, text_col, id_col, shingle_k, base_hash, signatures, "sig array<bigint>"
    )


def _band_explode(
    signatures: DataFrame, id_col: str, bands: int, sig_len: int
) -> DataFrame:
    """(id, band, bucket array<long>) LSH band rows — a map-only
    projection (explode of a literal-slice array; no shuffle). The bucket
    key is the slot-slice ARRAY itself: exact banding, no
    collision-induced false candidates (see minhash_lsh_pairs)."""
    rows_per_band = sig_len // bands
    return signatures.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.slice(
                            "sig", i * rows_per_band + 1, rows_per_band
                        ).alias("bucket"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def incremental_lsh_pairs(
    new_signatures: DataFrame,
    index_signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    threshold: float = 0.5,
    broadcast: bool = True,
) -> DataFrame:
    """Probe a STANDING corpus with a new batch: bipartite near-dup
    candidates (new_id, old_id, est_jaccard) between `new_signatures`
    (the incoming snapshot's MinHash signatures) and `index_signatures`
    (the standing corpus signature table, e.g. a Parquet table written
    once and probed by every subsequent batch). This is the incremental
    half of snapshot deduplication — new-vs-new dups are
    ``minhash_lsh_pairs``' job on the new batch alone.

    Scale shape (the 10^12-row standing corpus): with ``broadcast=True``
    (default) the NEW side is broadcast at both probe points — the band
    join and the est re-join — so the index lineage is two MAP-ONLY
    scans (band projection + signature re-join) with ZERO index-side
    shuffles; the only exchange in the plan is the candidate-id distinct,
    which carries ids only. HARD CONTRACT: broadcast=True requires the
    new batch (bands× band rows + candidate pairs) to fit the broadcast
    limit — pass broadcast=False for large batches and let AQE pick the
    join strategy (the index then shuffles on (band, bucket) and id).

    Ids must be disjoint across batch and index (same id ==> same doc is
    the caller's contract; a shared id would pair a document with
    itself)."""
    new_signatures = new_signatures.localCheckpoint(eager=True)
    sig_len = new_signatures.selectExpr("size(sig) AS n").first()["n"]
    new_banded = _band_explode(new_signatures, id_col, bands, sig_len).select(
        F.col(id_col).alias("new_id"), "band", "bucket"
    )
    idx_banded = _band_explode(index_signatures, id_col, bands, sig_len).select(
        F.col(id_col).alias("old_id"), "band", "bucket"
    )
    probe = F.broadcast(new_banded) if broadcast else new_banded
    cand = (
        idx_banded.join(probe, ["band", "bucket"])
        .select("new_id", "old_id")
        .distinct()
    )
    if broadcast:
        cand = F.broadcast(cand)
    sig_new = new_signatures.select(
        F.col(id_col).alias("new_id"), F.col("sig").alias("sig_a")
    )
    sig_old = index_signatures.select(
        F.col(id_col).alias("old_id"), F.col("sig").alias("sig_b")
    )
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.size("sig_a")
    return (
        sig_old.join(cand, "old_id")
        .join(F.broadcast(sig_new) if broadcast else sig_new, "new_id")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("new_id", "old_id", "est_jaccard")
    )


def minhash_lsh_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b, est_jaccard) via LSH banding
    over the MinHash signature, filtered by estimated Jaccard ≥ threshold
    (fraction of agreeing signature slots).

    Scale shape: the band self-join and the distinct carry ONLY
    (band, bucket, id) / (id_a, id_b) — signatures are re-joined once per
    side afterwards, so the widest shuffle moves 16-byte keys instead of
    64-slot vectors. The bucket key is the slot-slice ARRAY itself, not a
    hash of it: exact banding, no collision-induced false candidates, and
    the same pair set as the oracle's string-key formulation (array
    equality ≡ '_'-joined string equality for integer slots) — joining on
    the 4-long array beats building millions of bucket strings ~2.3×.

    NOTE: constructing the returned DataFrame runs the upstream signature
    job immediately (eager localCheckpoint below) — build it only when you
    intend to execute it, not for plan inspection."""
    # the signature lineage feeds five consumers below (sig_len probe,
    # both sides of the band join, both payload re-joins) — materialize it
    # once, EAGERLY. eager=False is a trap here: the sig_len first() would
    # materialize a single partition and the five same-DAG consumers then
    # recompute every unmaterialized partition each (measured 138 s vs
    # 35 s at 500k docs). Cost of eager: constructing this DataFrame runs
    # the signature job immediately. (localCheckpoint blocks are
    # executor-local — an executor loss after materialization fails the
    # job instead of recomputing; acceptable for bounded batch queries,
    # revisit for long-lived dynamic-allocation services.)
    signatures = signatures.localCheckpoint(eager=True)
    sig_len = signatures.selectExpr("size(sig) AS n").first()["n"]
    banded = _band_explode(signatures, id_col, bands, sig_len)

    left = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    right = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    pairs = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sig_a = signatures.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = signatures.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.size("sig_a")
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (verification stage after
    LSH): pairs(id_a, id_b) → (id_a, id_b, jaccard) over the documents'
    distinct k-word shingle strings. NULL text is no document (_words)."""
    sh = _words(df, text_col, id_col).select(
        F.col(id_col), F.array_distinct(_shingles(F.col("__w"), shingle_k)).alias("sh")
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return joined.select("id_a", "id_b", (inter / union).alias("jaccard"))


def _unique_gram_rows(
    df: DataFrame, text_col: str, id_col: str, ngram: int, base_hash: str
) -> DataFrame:
    """(id, __h) — one row per DISTINCT n-gram base hash per document,
    as a single map-only mapInArrow pass (no shuffle, text never leaves
    the scan). Shared by cross_doc_ngram_profile and decontaminate's
    corpus side."""

    def distinct_grams(ids, bases, lens):
        doc_of = np.repeat(np.arange(lens.size, dtype=np.int64), lens)
        return _unique_rows(ids, doc_of, bases, id_col)

    return _doc_kernel(
        df, text_col, id_col, ngram, base_hash, distinct_grams, "__h long"
    )


# Sort-heavy per-hash count stages (the gram-stream window) get this many
# times the session's shuffle parallelism: the gram stream is ~grams-per-
# doc × docs rows, and at the default 2×cores partitions a 500k-doc
# corpus put ~1M rows in each sort task — past execution memory, 414 MB
# of measured spill (round 6, stage metrics). 2× halves per-task sort
# state (no spill at bench scale) while staying proportional to the
# session/cluster parallelism rather than a local-mode constant.
_COUNT_SHUFFLE_FACTOR = 2


def cross_doc_ngram_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
    base_hash: str = "md5",
    sample_mod: int | None = None,
) -> DataFrame:
    """(id, n_ngrams, dup_ngrams, dup_fraction) — the fraction of a
    document's DISTINCT word n-grams that also occur in at least one
    OTHER document: the cross-document duplication signal used to triage
    exact-substring dedup at training-data scale (a high fraction marks
    boilerplate/templated/near-copied text that MinHash's whole-document
    Jaccard can miss when only a passage is shared).

    Scale shape: a mapInArrow kernel emits per-document distinct
    (id, hash) rows directly (_unique_gram_rows; for xxhash64 it also
    runs the sliding polynomial itself), and the per-hash doc count runs
    as a window count over the hash partition (widened by
    _COUNT_SHUFFLE_FACTOR to keep the sort in memory) before one
    aggregation per doc. Both shuffles carry (hash[, id]) only — document
    text never leaves the scan stage. Against the all-JVM form
    (checkpoint + explode + (id, hash) distinct + count join, now the
    test reference) this deletes the 59M-row localCheckpoint, the explode
    Generate, the distinct exchange AND the count join — round-6
    measurement at 500k docs: ~8 s vs 25-42 s, identical values. No join
    also means no AQE-misestimated-broadcast hazard on the statless
    Python stream (a counts-side broadcast OOM'd a joined variant in
    testing). With base_hash='md5' the whole computation has an exact
    DuckDB oracle (the _base60 cross-engine hash).

    sample_mod=m keeps only n-grams whose hash ≡ 0 (mod m): a 1/m
    deterministic hash sample — the same subset in every document, so
    shared n-grams stay shared and dup_fraction becomes an unbiased
    estimator computed over ~1/m of the rows. The wall at corpus scale is
    the per-hash aggregation over ~docs × grams distinct keys (measured
    108 s exact at 500k docs, ~51M keys), so the sample cuts it ~m×;
    None (default) is exact and what the driver oracle checks.

    CONTRACT: id_col must be unique (it is the corpus key). On a
    MALFORMED corpus with duplicate id rows each row is counted
    separately, so the id is flagged as a cross-doc dup of itself (a
    global (id, hash) distinct would instead merge the duplicates' gram
    sets). Restoring global dedup semantics was measured and REJECTED: a
    distinct on the statless Python stream costs 35-66 s at 500k — worse
    than the all-JVM form — so the precondition is documented (and
    pinned in test_ngram_profile_duplicate_id_contract) instead of paid
    for on every well-formed corpus."""
    df = df.filter(F.col(text_col).isNotNull())
    grams = _unique_gram_rows(df, text_col, id_col, ngram, base_hash)
    if sample_mod is not None:
        grams = grams.filter(F.col("__h") % sample_mod == 0)
    # explicit repartition feeding the window: the window reuses this
    # partitioning (same key), so it is the SAME single exchange — just at
    # _COUNT_SHUFFLE_FACTOR × the session parallelism, which keeps each
    # per-hash sort task inside execution memory (414 MB of spill
    # measured at the default width on 500k docs).
    n_count_parts = _COUNT_SHUFFLE_FACTOR * int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    profile = (
        grams.repartition(n_count_parts, "__h")
        .withColumn("__docs", F.count("*").over(Window.partitionBy("__h")))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_ngrams"),
            F.sum((F.col("__docs") >= 2).cast("long")).alias("dup_ngrams"),
        )
        # raw IEEE division of the two longs — bit-identical across
        # engines, no rounding needed (rounding would reintroduce the JVM
        # shortest-repr vs exact-value divergence)
        .withColumn("dup_fraction", F.col("dup_ngrams") / F.col("n_ngrams"))
    )
    if sample_mod is not None:
        # under sampling a doc can have ZERO sampled grams (certain for
        # short docs) and would silently vanish from the profile — emit it
        # with zero counts and a NULL fraction (unknown, not 0.0), so
        # consumers joining back to the corpus see every document
        profile = (
            df.select(id_col)
            .join(profile, id_col, "left")
            .fillna({"n_ngrams": 0, "dup_ngrams": 0})
        )
    return profile


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
    window: int = 8,
    base_hash: str = "md5",
) -> DataFrame:
    """(id, __h) — the document's DISTINCT winnowing fingerprints
    (Schleimer/Wilkerson/Aiken, SIGMOD'03): the set of minima over every
    `window` consecutive n-gram hashes. Expected density 2/(window+1), so
    downstream aggregations run on ~window/2× fewer keys than the full
    distinct-gram set, while keeping the ABSOLUTE coverage guarantee: two
    documents sharing any run of ≥ window+ngram-1 words share a full hash
    window inside the run, hence at least one fingerprint (the value set
    needs no tie/position bookkeeping — only the recorded-position rule
    does, and this profile never records positions).

    Documents with fewer than `window` n-grams yield their single overall
    minimum (the standard short-document rule), so every non-empty
    document has ≥1 fingerprint.

    Scale shape: one map-only mapInArrow pass (_doc_kernel) over the
    front end's positional per-doc base-hash arrays: numpy
    sliding_window_view gives the per-doc window minima in one vectorized
    pass and the kernel emits exploded distinct (id, __h) rows directly.
    Only fingerprints (~2/(w+1) of the grams) leave the scan. Adopted on
    measurement over the all-JVM window-min form (VERDICT r3 #7 —
    BASELINE.md round 4): 14.1 s vs 20.4 s warm at 500k docs, identical
    value sets, and ZERO checkpoints — the JVM form needed two (Catalyst
    re-evaluates a lambda-captured bases expression per window position,
    NOTES fact 18; exploding a live generated array abandons the codegen
    fast path, fact 15b), while the Arrow boundary isolates both.
    """

    def window_minima(ids, bases, blens):
        # global sliding-min over the batch's concatenated bases, per-doc
        # boundaries enforced by the same start/end-in-same-doc mask as
        # the polynomial; docs with fewer than `window` grams take their
        # single overall min (reduceat)
        n_docs = blens.size
        bstarts = np.zeros(n_docs, dtype=np.int64)
        np.cumsum(blens[:-1], out=bstarts[1:])
        out_lens = np.where(blens >= window, blens - window + 1, 1).astype(np.int64)
        out = np.empty(int(out_lens.sum()), dtype=np.int64)
        W = bases.size - window + 1
        if W > 0:
            mins = sliding_window_view(bases, window).min(axis=1)
            doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), blens)
            valid = doc_of[:W] == doc_of[window - 1:]
        else:
            mins = np.empty(0, dtype=np.int64)
            valid = np.empty(0, dtype=bool)
        long_doc = blens >= window
        out_doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), out_lens)
        out_is_long = long_doc[out_doc_of]
        out[out_is_long] = mins[valid]
        if not long_doc.all():
            whole_mins = np.minimum.reduceat(bases, bstarts)
            out[~out_is_long] = whole_mins[out_doc_of[~out_is_long]]
        return _unique_rows(ids, out_doc_of, out, id_col)

    return _doc_kernel(
        df, text_col, id_col, ngram, base_hash, window_minima, "__h long"
    )


def winnowed_ngram_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
    window: int = 8,
    base_hash: str = "md5",
) -> DataFrame:
    """(id, n_fingerprints, dup_fingerprints, dup_fraction) — the
    cross-document duplication profile over winnowing fingerprints: the
    scale form of cross_doc_ngram_profile. Same aggregation pipeline, but
    the per-hash doc-count groupBy and the join back run on the ~2/(w+1)
    fingerprint subset instead of every distinct n-gram — the measured
    bottleneck of the exact path at corpus scale (~51M distinct keys at
    500k docs) shrinks ~(w+1)/2×. Unlike hash-mod sampling, shared runs
    of ≥ window+ngram-1 words are NEVER missed (coverage guarantee,
    property-tested in tests/test_pipeline_ops.py); with base_hash='md5'
    the whole computation has an exact DuckDB oracle (window-function
    formulation — an independent implementation of the same selection).
    """
    fp = winnow_fingerprints(df, text_col, id_col, ngram, window, base_hash)
    # window count over the hash partition, NOT groupBy+join: the join
    # form feeds fp to TWO consumers, and on the checkpoint-free kernel
    # path each consumer re-runs the whole winnow kernel —
    # measured 14.4 s join-form vs 7.0-8.5 s window-form at 500k docs,
    # identical outputs (BASELINE.md round-4 third session). One kernel
    # evaluation, two narrow shuffles, no join, and no AQE stats hazard
    # on the Python stream.
    return (
        fp.withColumn("__docs", F.count("*").over(Window.partitionBy("__h")))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_fingerprints"),
            F.sum((F.col("__docs") >= 2).cast("long")).alias("dup_fingerprints"),
        )
        .withColumn(
            "dup_fraction", F.col("dup_fingerprints") / F.col("n_fingerprints")
        )
    )


def _spread_small_input(df: DataFrame) -> DataFrame:
    """Fan an under-parallel scan out to the session's parallelism before
    a compute-dense per-document projection.

    A small parquet input with one row group scans as ONE task, and a
    map-only kernel above it then runs single-core no matter how many
    cores the session has (round 6: the sf0.1 simhash 64-fold pack spent
    1.7 cpu-s on one task of a 2.3 s query). Only fires when the scan has
    fewer than half the default parallelism's partitions — a corpus-scale
    input already has >= cores splits, so the at-scale plan stays
    map-only and no exchange is added; when it does fire, the exchanged
    bytes are the small input itself."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — planning-only probe, never fatal
        return df
    if n * 2 <= target:
        return df.repartition(target)
    return df


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    base_hash: str = "md5",
) -> DataFrame:
    """(id, simhash long) — fully native plan, zero Python on the hot path.

    Classic SimHash with a universal bit family instead of raw hash bits:
    per word, base = base_hash(word) mod M; bit i of the word's 64-bit
    sketch is [(a_i·base + b_i) mod M > M/2] (an unbiased coin per
    (word, i)); per document, vote_i = Σ_words (2·bit−1); simhash bit i is
    set when vote_i > 0. Shape: MAP-ONLY on any well-partitioned input —
    the per-word base hashes stay a per-document array and each vote_i is
    an `aggregate(...)` fold over it (an under-parallel scan is first
    fanned out to the session's cores, see _spread_small_input; no-op at
    corpus scale)
    (identical values to the explode + 64 conditional-sum groupBy form,
    but no exchange of 64-column rows). The 64 folds + the bitwise-OR pack
    are generated as single SQL expressions (one Catalyst tree each, no
    per-column py4j round trips). With base_hash='md5' the whole
    computation is reproducible in DuckDB SQL — see driver ORACLE_SIMHASH."""
    a, b = _hash_params(64, seed)
    half = _MERSENNE // 2
    df = _spread_small_input(df)  # no-op on corpus-scale inputs
    # per-word base hashes: the front end at k=1 (NULL text dropped)
    hw = _doc_hashes(df, text_col, id_col, 1, base_hash)
    pack = " | ".join(
        f"(CASE WHEN aggregate(__h, 0L, (acc, h) -> acc + "
        f"(CASE WHEN ({a[i]}L * h + {b[i]}L) % {_MERSENNE}L > {half}L "
        f"THEN 1 ELSE -1 END)) > 0 THEN shiftleft(1L, {i}) ELSE 0L END)"
        for i in range(64)
    )
    # No trailing null filter: the upfront text filter guarantees __h is
    # never NULL, and a `filter(simhash IS NOT NULL)` would be pushed
    # below the projection with the ENTIRE 64-fold pack inlined into the
    # predicate — evaluating the kernel twice (the same 5× trap measured
    # on minhash_signatures). The CASE guard stays as defence in depth
    # for callers that bypass the text filter.
    return hw.selectExpr(
        id_col,
        f"CASE WHEN __h IS NULL THEN CAST(NULL AS LONG) ELSE ({pack}) END AS simhash",
    )


def simhash_near_pairs(
    sims: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    nested: bool = False,
) -> DataFrame:
    """Pairs within hamming distance via chunk pigeonholing: two hashes
    within distance d agree on ≥1 of (d+1) chunks → equi-join per chunk,
    verify exact popcount.

    The popcount verify runs BEFORE the pair distinct: on dense/skewed
    corpora the candidate stream is orders of magnitude larger than the
    true pair set (fixture phash corpus at 20k: 11.7M candidates vs 92k
    true pairs at d=3), and distinct is a shuffle — filtering first means
    the shuffle carries true pairs only while the candidate stream is
    consumed map-side by the join's popcount filter.

    nested=True adds a second pigeonhole level for LOW-ENTROPY hash
    corpora (real perceptual-hash bits are correlated — a few hot
    64/(d+1)-bit buckets hold a large corpus fraction): the key becomes
    (chunk i, sub-chunk j of the REMAINING bits compacted and split d+1
    ways). Recall stays exact — within hamming d some chunk is diff-free,
    and the remaining bits still carry ≤d diffs so some sub-chunk of THEM
    is also diff-free — while candidates must now agree on
    chunk_bits + sub_bits (~16+12 at d=3) instead of chunk_bits. Measured
    on the fixture phash corpus at 20k docs: 2.7× fewer candidates at d=3,
    7× at d=2; fan-out cost is (d+1)² explode rows/doc instead of d+1.
    Uniform-entropy hashes (text SimHash) don't need it — default off.

    NOTE: constructing the returned DataFrame runs the upstream hash job
    immediately (eager localCheckpoint below) — build it only when you
    intend to execute it, not for plan inspection."""
    # both sides of the chunk join read `sims`; since the map-only simhash
    # is a Project (no exchange for Spark to reuse, and its 64-fold pack
    # pays real codegen), materialize it once, eagerly (eager=False
    # partially materializes and the same-DAG consumers recompute the
    # rest — see minhash_lsh_pairs)
    sims = sims.localCheckpoint(eager=True)
    chunks = max_hamming + 1
    chunk_bits = 64 // chunks
    h = F.col("simhash")

    def chunk_val(ci: int) -> F.Column:
        return F.shiftrightunsigned(h, ci * chunk_bits).bitwiseAND(
            F.lit((1 << chunk_bits) - 1)
        )

    if not nested:
        keys = ["ci", "cv"]
        pieces = F.array(
            *[
                F.struct(F.lit(ci).alias("ci"), chunk_val(ci).alias("cv"))
                for ci in range(chunks)
            ]
        )
    else:
        keys = ["ci", "cj", "cv", "sv"]
        sub_bits = (64 - chunk_bits) // chunks
        structs = []
        for ci in range(chunks):
            # delete chunk ci's bits and compact the remainder: low bits
            # stay, bits above the chunk shift down by chunk_bits
            lo_mask = (1 << (ci * chunk_bits)) - 1
            rest = (h.bitwiseAND(F.lit(lo_mask))).bitwiseOR(
                F.shiftrightunsigned(h, chunk_bits).bitwiseAND(F.lit(~lo_mask))
            )
            for cj in range(chunks):
                structs.append(
                    F.struct(
                        F.lit(ci).alias("ci"),
                        F.lit(cj).alias("cj"),
                        chunk_val(ci).alias("cv"),
                        F.shiftrightunsigned(rest, cj * sub_bits)
                        .bitwiseAND(F.lit((1 << sub_bits) - 1))
                        .alias("sv"),
                    )
                )
        pieces = F.array(*structs)

    exploded = sims.select(
        F.col(id_col), "simhash", F.explode(pieces).alias("c")
    ).select(id_col, "simhash", *[F.col(f"c.{k}").alias(k) for k in keys])
    a = exploded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("h_a"), *keys
    )
    b = exploded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("h_b"), *keys
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        a.join(b, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def embedding_near_dup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 16,
    seed: int = 7,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: random-hyperplane LSH bucket
    join (sign signature over n_planes, split into 4 bands) + exact cosine
    verification, all in native higher-order functions."""
    dim = df.selectExpr(f"size({vec_col}) AS n").first()["n"]
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))

    def sign_bits(vec):
        bits = [
            (
                F.aggregate(
                    F.zip_with(
                        vec,
                        F.array(*[F.lit(float(p)) for p in planes[i]]),
                        lambda x, y: x.cast("double") * y,
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                > 0
            ).cast("long")
            for i in range(n_planes)
        ]
        out = F.lit(0).cast("long")
        for i, b in enumerate(bits):
            out = out.bitwiseOR(F.shiftleft(b, i))
        return out

    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    sigs = df.select(
        F.col(id_col),
        F.col(vec_col),
        sign_bits(F.col(vec_col)).alias("sig"),
        norm.alias("norm"),
    )
    bands = 4
    band_bits = n_planes // bands
    # candidate generation carries IDs only (the band join + distinct move
    # 16-byte pairs, not the full vectors); payloads re-join once per side
    banded = sigs.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("sig", i * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("bucket"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    payload_a = sigs.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"), F.col("norm").alias("n_a")
    )
    payload_b = sigs.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"), F.col("norm").alias("n_b")
    )
    dot = F.aggregate(
        F.zip_with("v_a", "v_b", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        pairs.join(payload_a, "id_a")
        .join(payload_b, "id_b")
        .withColumn("cosine", dot / (F.col("n_a") * F.col("n_b")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 13,
    base_hash: str = "md5",
    min_overlap: int = 1,
    broadcast: bool = True,
) -> DataFrame:
    """(id, contaminated_ngrams, contaminated) — benchmark decontamination:
    per corpus document, the number of its distinct word n-grams that also
    occur anywhere in the benchmark corpus, and a flag at >= min_overlap.
    The standard eval-leakage filter for training corpora (GPT-3 appendix C
    uses 13-gram overlap; the reference engine has no counterpart — this is
    the training-pipeline axis).

    Scale shape: the benchmark's distinct gram-hash set is TINY relative to
    the corpus (eval suites are ~1e5-1e7 grams), so it is broadcast and the
    corpus side stays MAP-ONLY through the semi-join — no corpus-sized
    shuffle at all. Only grams that survive the broadcast join (actual
    contamination hits, rare by construction) reach the per-document
    aggregation, and the final left join back to ids carries one row per
    corpus document. Grams never leave the scan stage as strings with
    base_hash='xxhash64'; 'md5' (default) is the exact-DuckDB-oracle anchor.

    HARD CONTRACT with broadcast=True (default): the benchmark's distinct
    gram set must fit in executor memory — ~1e8 int64 grams (~1 GB plus
    hash-relation overhead) is the practical ceiling. Beyond that (e.g. a
    "benchmark" that is itself a corpus slice), pass broadcast=False: the
    join becomes a plain shuffled hash join — the corpus-sized exchange
    returns, but nothing OOMs.

    A document shorter than `ngram` words contributes its whole-text gram
    (same contract as the profile ops): a verbatim short benchmark doc in
    the corpus still flags."""
    # explode_outer, not explode: the non-outer Generate pushes an implicit
    # `size(__h) > 0` filter BELOW the bases Project, inlining the whole
    # shingle mega-expression a second time without codegen sharing (NOTES
    # hard-won fact 16). _doc_hashes never returns an empty array (short
    # docs get the whole-text gram), so outer semantics are identical — the
    # one NULL a null-text row would produce is already filtered upstream.
    bench_grams = (
        _doc_hashes(benchmark, text_col, id_col, ngram, base_hash)
        .select(F.explode_outer("__h").alias("__h"))
        .distinct()
    )
    if base_hash == "xxhash64":
        # in-kernel polynomial + per-doc unique (round 6): the JVM k=13
        # Horner per window was the corpus-side scan bottleneck; per-doc
        # unique BEFORE the broadcast join is semantically free (the
        # post-join (id, __h) distinct already collapses within-doc
        # repeats) and shrinks the join probe stream.
        corpus_grams = _unique_gram_rows(corpus, text_col, id_col, ngram, base_hash)
    else:
        corpus_grams = _doc_hashes(
            corpus, text_col, id_col, ngram, base_hash
        ).select(id_col, F.explode_outer("__h").alias("__h"))
    bench_side = F.broadcast(bench_grams) if broadcast else bench_grams
    hits = (
        corpus_grams.join(bench_side, "__h")
        # distinct AFTER the broadcast join: only contamination hits pay
        # the exchange, and each doc counts a shared gram once
        .select(id_col, "__h")
        .distinct()
        .groupBy(id_col)
        .agg(F.count("*").alias("contaminated_ngrams"))
    )
    return (
        corpus.filter(F.col(text_col).isNotNull())
        .select(id_col)
        .join(hits, id_col, "left")
        .fillna({"contaminated_ngrams": 0})
        .withColumn(
            "contaminated", F.col("contaminated_ngrams") >= F.lit(min_overlap)
        )
    )


def intra_doc_repetition(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    base_hash: str = "md5",
) -> DataFrame:
    """(id, n_ngrams, distinct_ngrams, repeated_fraction) — WITHIN-document
    n-gram repetition (the Gopher/MassiveText quality rule family: a high
    duplicate-n-gram fraction marks boilerplate, keyword stuffing and
    degenerate generations). Complements cross_doc_ngram_profile, which
    measures duplication ACROSS documents.

    repeated_fraction = 1 - distinct/total over the document's n-gram
    multiset (position count, not characters). MAP-ONLY: size +
    array_distinct over the per-document base-hash array — zero shuffles,
    scales as a pure scan. Distinctness is computed on the Mersenne-reduced
    base hashes in BOTH engines (collision-equivalent, exact oracle)."""
    bases = _doc_hashes(df, text_col, id_col, ngram, base_hash)
    n = F.size("__h")
    d = F.size(F.array_distinct("__h"))
    return bases.select(
        F.col(id_col),
        n.cast("long").alias("n_ngrams"),
        d.cast("long").alias("distinct_ngrams"),
        (F.lit(1.0) - d.cast("double") / n.cast("double")).alias(
            "repeated_fraction"
        ),
    )


def dedup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    rank_col: str,
    id_col: str = "doc_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Near-dup cluster canonicalization: connected components over the
    candidate-pair graph, then ONE survivor per cluster — the highest
    `rank_col` (ties → lowest id). Docs in no pair pass through as
    their own singleton cluster.

    Output = the kept docs' columns + `cluster` (smallest member id) +
    `cluster_size`. The rank and size windows share one partitioning, so
    selection costs a single cluster-key shuffle after the id-only
    component iteration."""
    comp, _ = connected_components(
        pairs.select(F.array(a_col, b_col)), max_iter=max_iter
    )
    clustered = (
        docs.join(comp, docs[id_col] == comp["node"], "left")
        .drop("node")
        .withColumn("cluster", F.coalesce(F.col("cluster"), F.col(id_col)))
    )
    w = Window.partitionBy("cluster")
    rank_w = w.orderBy(F.col(rank_col).desc(), F.col(id_col).asc())
    return (
        clustered.withColumn("__rn", F.row_number().over(rank_w))
        .withColumn("cluster_size", F.count("*").over(w).cast("long"))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (RefinedWeb / CCNet style):
    split each doc on `sep`, keep only the globally-FIRST occurrence of
    every distinct non-empty paragraph (first = lowest (id, position)),
    and reassemble each doc from its kept paragraphs in original order.

    Every doc survives — one that loses all paragraphs comes back with
    empty text. Ids must be unique (the cross-doc ngram kernels' contract;
    a duplicated id would duplicate its reassembled row through the final
    id-keyed joins). Consecutive separators collapse on reassembly (empty
    paragraphs are dropped before dedup); that normalization is the
    documented contract, shared with the oracle.

    Scale shape: the winner per paragraph digest is a groupBy
    min(struct(id, pos)) — partial aggregation absorbs boilerplate
    paragraphs that repeat across millions of docs (a window over the
    digest would sort the full hot partition in one task and cannot be
    skew-split); the keep decision is then a digest-keyed join that AQE
    can skew-split. Two shuffles of (digest, id, pos) slim rows plus the
    per-doc reassembly groupBy — no full-text shuffle: paragraphs
    travel once into the reassembly, ids+digests elsewhere.
    """
    sep_lit = F.lit(sep)
    paras = (
        df.select(
            F.col(id_col).alias("__id"),
            F.posexplode(F.split(F.col(text_col), sep)).alias("__pos", "__para"),
        )
        .filter(F.col("__para") != "")
        .withColumn("__digest", F.md5(F.col("__para")))
    )
    winners = paras.groupBy("__digest").agg(
        F.min(F.struct("__id", "__pos")).alias("__first")
    )
    kept = (
        paras.join(winners, "__digest")
        .filter(
            (F.col("__id") == F.col("__first.__id"))
            & (F.col("__pos") == F.col("__first.__pos"))
        )
        .select("__id", "__pos", "__para")
    )
    reassembled = kept.groupBy("__id").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__para"))),
                lambda s: s["__para"],
            ),
            sep,
        ).alias("text_clean"),
    )
    n_paras = paras.groupBy("__id").agg(F.count("*").cast("long").alias("n_paras"))
    base = df.select(F.col(id_col).alias("__id"))
    return (
        base.join(n_paras, "__id", "left")
        .join(reassembled, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_paras", F.lit(0)).cast("long").alias("n_paras"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


def multimodal_near_dup(
    images: DataFrame,
    *,
    id_col: str = "image_id",
    caption_col: str = "caption",
    phash_col: str = "phash",
    max_hamming: int = 3,
    nested: bool = True,
    caption_threshold: float = 0.8,
    caption_shingle_k: int = 3,
    rank_col: str | None = None,
    max_iter: int = 20,
) -> DataFrame:
    """Joint image+caption near-duplicate canonicalization over the
    north-star images table (image_id, bytes, w, h, fmt, caption, phash):
    an edge connects two rows when EITHER modality matches — perceptual
    hashes within `max_hamming` (pigeonhole chunk join, exact recall;
    `nested` adds the second level for low-entropy real phash corpora) OR
    captions with MinHash-estimated Jaccard >= `caption_threshold` (LSH
    band join). Connected components over the edge union form the dup
    groups (a phash-dup of X and a caption-dup of X collapse into one
    group through X); ONE survivor per group — highest rank (default
    pixel count w*h when those columns exist, else lowest id), ties to
    the lowest id.

    Scale shape: both edge generators shuffle ids+keys only (never bytes
    or captions past the signature stage), the component iteration is
    id-only, and the final selection is one cluster-key shuffle
    (dedup_keep_best). NOTE: constructing the result runs the upstream
    hash jobs immediately (both pair generators localCheckpoint their
    map-only signature inputs).

    Returns the survivors: all original columns + `cluster` (smallest
    member id) + `cluster_size`.
    """
    ph = images.select(
        F.col(id_col).alias("doc_id"), F.col(phash_col).cast("long").alias("simhash")
    )
    phash_edges = simhash_near_pairs(
        ph, id_col="doc_id", max_hamming=max_hamming, nested=nested
    ).select("id_a", "id_b")
    sigs = minhash_signatures(
        images.filter(F.col(caption_col).isNotNull()),
        text_col=caption_col,
        id_col=id_col,
        shingle_k=caption_shingle_k,
    )
    cap_edges = minhash_lsh_pairs(
        sigs, id_col=id_col, threshold=caption_threshold
    ).select("id_a", "id_b")
    edges = phash_edges.unionByName(cap_edges)

    if rank_col is None:
        cols = set(images.columns)
        rank_expr = (
            (F.col("w").cast("long") * F.col("h").cast("long"))
            if {"w", "h"} <= cols
            else F.lit(0).cast("long")
        )
        slim = images.select(F.col(id_col), rank_expr.alias("__mm_rank"))
        rank_col = "__mm_rank"
    else:
        slim = images.select(F.col(id_col), F.col(rank_col))
    # selection runs on (id, rank) ONLY — the cluster-key window must not
    # shuffle image payloads; survivors then pull their full row back with
    # one id-keyed join (this is what keeps "never bytes" true)
    winners = dedup_keep_best(
        slim, edges, rank_col=rank_col, id_col=id_col, max_iter=max_iter
    ).select(id_col, "cluster", "cluster_size")
    return images.join(winners, id_col)
