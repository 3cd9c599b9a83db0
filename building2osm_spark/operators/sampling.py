"""Deterministic, content-addressed sampling for training-data pipelines.

Reproducible subsampling is a first-class corpus-curation primitive: the
SAME rows must be selected in any session, under any partitioning, at any
cluster size, and on re-runs after failure — which rules out
``DataFrame.sample`` (seeded per-partition: a repartition changes the
selection). Both operators here key acceptance off the md5-60bit content
hash (``functions.text._base60``), which is bit-identical in DuckDB
(``CAST('0x'||substring(md5(x),1,15) AS UBIGINT)``), so both have exact
cross-engine SQL oracles.

Scale shapes (the 10^12-row contract):
- ``deterministic_sample`` is MAP-ONLY — one codegen-resident filter, no
  shuffle, trivially resumable (acceptance is a pure row function).
- ``stratified_cap`` shuffles once on the strata key and sorts within
  strata (rank-by-hash is a global per-stratum order). A pathologically
  hot stratum serializes on its reducer's sort — the documented
  composition for that case is ``deterministic_sample`` first (map-only
  pre-thin to ~cap/fraction rows per stratum) and cap after.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import _base60

#: acceptance-space modulus — fraction resolution 1e-6
SAMPLE_MOD = 1_000_000


def _accept_hash(key: Column, salt: str) -> Column:
    """md5-60bit of (key-as-string || salt) — the cross-engine
    deterministic acceptance hash. The salt decorrelates independent
    sampling decisions over the same key (sample-then-cap must not
    reuse one hash, or the cap's rank order would be conditioned on
    the acceptance threshold)."""
    return _base60(F.concat(key.cast("string"), F.lit(salt)))


def deterministic_sample(
    df: DataFrame, key: str | Column, fraction: float, salt: str = ""
) -> DataFrame:
    """Keep each row iff hash(key||salt) mod 1e6 < fraction·1e6.

    Partitioning-independent, retry-safe, and stable across sessions —
    the selection is a pure function of the key. Map-only (no shuffle,
    no Python)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    key_col = F.col(key) if isinstance(key, str) else key
    threshold = int(round(fraction * SAMPLE_MOD))
    return df.filter(_accept_hash(key_col, salt) % SAMPLE_MOD < threshold)


def stratified_cap(
    df: DataFrame,
    strata: str | list[str],
    cap: int,
    key: str | Column,
    salt: str = "",
) -> DataFrame:
    """At most ``cap`` rows per stratum, chosen by ascending acceptance
    hash (a deterministic uniform draw within each stratum; ties — only
    possible on duplicate keys — break on the key itself).

    One shuffle on the strata columns; see the module docstring for the
    hot-stratum composition."""
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    strata_cols = [strata] if isinstance(strata, str) else list(strata)
    key_col = F.col(key) if isinstance(key, str) else key
    h = _accept_hash(key_col, salt)
    w = Window.partitionBy(*strata_cols).orderBy(h.asc(), key_col.asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


def split_assign(
    df: DataFrame,
    key: str | Column,
    splits,
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Assign each row to exactly ONE named split (train/val/test …) by
    the content hash: ``splits`` is an ordered mapping (or sequence of
    pairs) of name -> fraction; fractions must sum to 1 at the 1e-6
    acceptance resolution. The assignment is a pure function of the key
    — partitioning-independent, retry-safe, session-stable, and disjoint
    + exhaustive by construction (cumulative integer boundaries over one
    hash draw; independent per-split samples could overlap or leak).
    Map-only: no shuffle, no Python."""
    items = list(splits.items()) if hasattr(splits, "items") else list(splits)
    if len(items) < 2:
        raise ValueError("need at least 2 splits")
    if out_col in df.columns:
        raise ValueError(f"output column {out_col!r} already exists")
    bounds = []
    cum = 0
    for name, frac in items:
        step = int(round(float(frac) * SAMPLE_MOD))
        if step <= 0:
            raise ValueError(f"split {name!r} fraction {frac} below 1e-6 resolution")
        cum += step
        bounds.append((str(name), cum))
    if cum != SAMPLE_MOD:
        raise ValueError(
            f"fractions must sum to 1 at 1e-6 resolution (got {cum / SAMPLE_MOD})"
        )
    key_col = F.col(key) if isinstance(key, str) else key
    h = _accept_hash(key_col, salt) % SAMPLE_MOD
    expr = F.lit(bounds[-1][0])  # last split needs no bound: h < MOD always
    for name, b in reversed(bounds[:-1]):
        expr = F.when(h < b, name).otherwise(expr)
    return df.withColumn(out_col, expr)


def mixture_sample(
    df: DataFrame,
    source: str,
    weights,
    key: str | Column,
    salt: str = "mix",
    max_sources: int = 100_000,
) -> DataFrame:
    """Rebalance a corpus to a target source mixture by deterministic
    DOWN-sampling (the data-mixture operator of LM corpus assembly —
    e.g. Pile/DoReMi-style weights): given positive integer ``weights``
    per source, emit the LARGEST subsample whose expected per-source
    share is proportional to the weights. Never up-samples: the
    limiting source s* (minimal n_s/w_s as an exact rational) keeps all
    its rows; every other source keeps fraction
    ``(n_star * w_s) / (w_star * n_s)``.

    Acceptance thresholds are computed in exact integer arithmetic
    (Python bigints, floored onto the 1e-6 acceptance grid), and row
    acceptance is the content hash of ``key`` — so the selection is a
    pure row function: partitioning-independent, retry-safe,
    session-stable, and reproducible cross-engine (the SQL oracle
    re-derives the same thresholds in HUGEINT).

    Scale shape: ONE narrow ``groupBy(source).count()`` whose result is
    tiny (bounded by ``max_sources``, raises above it), then a MAP-ONLY
    filter over the full corpus (literal-map threshold lookup stays in
    codegen). The 10^12-row side never shuffles.

    Contract: every observed source must have a positive integer weight
    (unknown or NULL sources raise — a silent drop would corrupt the
    mixture); weighted-but-absent sources raise too (the target mixture
    is unattainable without up-sampling).
    """
    weights = dict(weights)
    for s, w in weights.items():
        if s is None or not isinstance(w, int) or isinstance(w, bool) or w <= 0:
            raise ValueError(f"weights must map non-null source -> positive int, got {s!r}: {w!r}")
    counts_rows = (
        df.groupBy(source).agg(F.count(F.lit(1)).alias("n")).limit(max_sources + 1).collect()
    )
    if len(counts_rows) > max_sources:
        raise ValueError(f"more than max_sources={max_sources} distinct sources")
    counts = {r[0]: r[1] for r in counts_rows}
    if None in counts:
        raise ValueError("NULL source observed; mixture_sample requires a total source column")
    unknown = sorted(set(counts) - set(weights))
    if unknown:
        raise ValueError(f"sources without a weight: {unknown[:10]}")
    absent = sorted(set(weights) - set(counts))
    if absent:
        raise ValueError(f"weighted sources absent from the corpus: {absent[:10]}")
    # limiting source: minimal n_s/w_s (exact rational compare); ties are
    # irrelevant — tied ratios yield identical thresholds.
    s_star = None
    for s in sorted(counts):
        if s_star is None or counts[s] * weights[s_star] < counts[s_star] * weights[s]:
            s_star = s
    n_star, w_star = counts[s_star], weights[s_star]
    thresholds = {
        s: min(SAMPLE_MOD, (n_star * weights[s] * SAMPLE_MOD) // (w_star * counts[s]))
        for s in counts
    }
    key_col = F.col(key) if isinstance(key, str) else key
    pairs: list[Column] = []
    for s, t in thresholds.items():
        pairs.append(F.lit(s))
        pairs.append(F.lit(t))
    t_col = F.element_at(F.create_map(*pairs), F.col(source))
    return df.filter((_accept_hash(key_col, salt) % SAMPLE_MOD) < t_col)


def pack_sequences(
    df: DataFrame,
    budget: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_col: str | Column | None = None,
    n_shards: int = 64,
    salt: str = "pack",
) -> DataFrame:
    """Deterministic sequence packing (LM training-batch assembly):
    concatenate documents into per-shard token streams and cut the
    stream every `budget` tokens; a document belongs to the sequence
    containing its FIRST token (seq = start_offset // budget), so a doc
    longer than the budget spans cuts but still has exactly one
    assignment. The concat order is (accept-hash, id) — content-
    addressed, so the packing is partitioning-independent, retry-safe
    and session-stable, and long/short docs decorrelate from id order.

    Sharding = hash % n_shards bounds each window partition: ONE shuffle
    on the shard key, then a per-shard running sum — size n_shards to
    ~10^6 rows/shard at corpus scale (10^12 docs → ~10^6 shards). Token
    counts default to whitespace tokens over `text_col` (pass token_col
    for pre-tokenized counts, e.g. BPE lengths).

    Returns (id_col, n_tokens, shard, seq, start_offset): everything a
    reader needs to materialize sequence `(shard, seq)` by slicing the
    ordered concat stream.
    """
    if token_col is None:
        from ..functions.text import token_count_ws

        tokens = token_count_ws(F.col(text_col))
    else:
        tokens = F.col(token_col) if isinstance(token_col, str) else token_col
    h = _accept_hash(F.col(id_col), salt)
    base = df.select(
        F.col(id_col),
        tokens.cast("long").alias("n_tokens"),
        h.alias("__h"),
        (h % F.lit(n_shards)).cast("int").alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("__h", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.withColumn("__cum", F.sum("n_tokens").over(w))
        .withColumn("start_offset", (F.col("__cum") - F.col("n_tokens")).cast("long"))
        .withColumn("seq", F.expr(f"start_offset div {int(budget)}"))
        .select(id_col, "n_tokens", "shard", "seq", "start_offset")
    )


def epoch_shuffle(
    df: DataFrame,
    key: str | Column,
    salt: str = "epoch",
    n_shards: int = 1024,
    pos_col: str = "pos",
    shard_col: str = "shard",
) -> DataFrame:
    """Deterministic global shuffle with a CONTIGUOUS position index —
    the LM "epoch shuffle" (and the DataFrame form of zipWithIndex at
    scale): every row gets ``pos`` in [0, N) in ascending
    (accept-hash, key) order, a content-addressed pseudo-random
    permutation that is partitioning-independent, retry-safe,
    session-stable, and reproducible cross-engine (the SQL twin is
    ``row_number() OVER (ORDER BY hash, key) - 1``).

    Scale shape — a global index cannot be one window
    (``Window.orderBy`` without ``partitionBy`` is a single reducer):

    - ``shard`` = the TOP bits of the 60-bit hash (hash-RANGE sharding:
      shard order IS global order, and shards are uniformly sized
      regardless of data skew because the hash is uniform).
      ``n_shards`` must be a power of two so the shard is an exact
      ``shiftright`` — a general divisor needs integer division, and a
      double ``floor(h/d)`` mis-buckets past 2^53 (same trap as
      interval_join's bucket index).
    - within-shard rank: ONE window over the shard shuffle.
    - shard offsets: per-shard counts (reuses the shuffle via
      localCheckpoint — ≤ n_shards rows after map-side combine),
      cumulated on the driver, broadcast-joined back.

    ONE full-data shuffle total; no Python on the data path. Size
    n_shards so a shard fits a reducer's sort (~10^6 rows/shard).

    Duplicate keys hash identically: positions stay contiguous and the
    SET of positions per key is deterministic, but order among equal
    keys is a row_number tie — pass a unique key for a stable total
    order.
    """
    if n_shards < 1 or (n_shards & (n_shards - 1)) != 0 or n_shards > (1 << 20):
        raise ValueError(
            f"n_shards must be a power of two in [1, 2^20], got {n_shards}"
        )
    for c in (pos_col, shard_col):
        if c in df.columns:
            raise ValueError(f"output column {c!r} already exists")
    for c in ("__h", "__rn", "__off"):
        if c in df.columns:
            raise ValueError(f"column {c!r} is reserved by epoch_shuffle")
    if pos_col == shard_col:
        raise ValueError("pos_col and shard_col must differ")
    key_col = F.col(key) if isinstance(key, str) else key
    shift = 60 - (n_shards.bit_length() - 1)
    sharded = df.withColumn("__h", _accept_hash(key_col, salt)).withColumn(
        shard_col, F.shiftright(F.col("__h"), shift)
    )
    w = Window.partitionBy(shard_col).orderBy(F.col("__h").asc(), key_col.asc())
    # two consumers (offset counts + the returned rows): cut the lineage so
    # the scan + shard shuffle run once (NOTES fact 14)
    ranked = sharded.withColumn("__rn", F.row_number().over(w)).localCheckpoint(
        eager=False
    )
    raw = [
        (r[0], r[1])
        for r in ranked.groupBy(shard_col).agg(F.max("__rn").alias("__n")).collect()
    ]
    if any(s is None for s, _ in raw):
        # a NULL key hashes to NULL -> NULL shard; a total order over it
        # would be arbitrary, so fail loudly instead of sorting None
        raise ValueError("epoch_shuffle requires a non-null key")
    counts = sorted(raw)
    offsets, cum = [], 0
    for s, n in counts:
        offsets.append((s, cum))
        cum += n
    off_df = df.sparkSession.createDataFrame(
        offsets, schema=f"{shard_col} long, __off long"
    )
    out = ranked.join(F.broadcast(off_df), shard_col).withColumn(
        pos_col, F.col("__off") + F.col("__rn") - F.lit(1)
    )
    return out.select(*df.columns, shard_col, pos_col)
