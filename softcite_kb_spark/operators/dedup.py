"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The dedup family a web-scale training-data pipeline needs before a corpus
feeds extraction. Design:

  * exact: hash-groupBy on the normalized content fingerprint — one
    shuffle, map-side partial agg.
  * MinHash: k md5-derived hash slots over word shingles, all computed as
    native higher-order functions (transform/array_min) — no Python.
    LSH banding turns signature equality into an equi-join on
    (band_idx, band_hash): candidate pairs come from a self-join on the
    band bucket, NOT an O(n^2) cross join; verification computes exact
    Jaccard only on candidates. Hot buckets (boilerplate docs) are the
    skew risk — ``max_bucket`` caps pathological buckets explicitly, the
    same concern the reference caps with MAX_INDEXED_CONTEXTS_PER_SOFTWARE
    (kb_es_indexing.py:21), but as an explicit knob instead of silence.
  * SimHash: 64-bit sign-aggregated token hashes; default kernel hashes
    tokens JVM-side (md5, engine-reproducible) and does the 64-wide bit
    arithmetic as a numpy matmul in an Arrow UDF — measured faster than
    both the all-Python and the pure-Column variants, which are kept and
    tested equal (see add_simhash).
  * n-gram Jaccard: exact set overlap on shingles for candidate pairs.

md5-based hashing keeps every signature reproducible in the DuckDB oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from typing import Callable

from softcite_kb_spark.materialize import Materializer
from softcite_kb_spark.operators.textops import fingerprint, tokens

DEFAULT_NUM_PERM = 16
DEFAULT_BANDS = 4


# A materialization barrier for plans consumed on BOTH sides of a
# self-join (without one, the upstream hash pipeline runs twice). The
# default — localCheckpoint — is the single-JVM choice; on a real
# cluster pass materialize.ScratchTableMaterializer(store).
def _default_materializer(df: DataFrame) -> DataFrame:
    # lazy: the self-join consumers trigger exactly one computation; an
    # eager checkpoint would add a separate job before the join runs
    return df.localCheckpoint(eager=False)


def cap_buckets(df: DataFrame, bucket_cols: list[str],
                max_bucket: int) -> DataFrame:
    """Drop every row belonging to a blocking bucket with more than
    ``max_bucket`` members — the skew guard every bucketed near-dup
    self-join needs (a degenerate bucket's pair count is quadratic;
    its members are near-identical boilerplate that exact dedup
    catches anyway).

    Sizes come from a groupBy-count + anti-join of the OVERSIZED keys,
    NOT a ``count(*) over (partition by bucket)`` window: the window
    funnels the very 10^9-row bucket it exists to cap through one
    reducer just to count it, while groupBy count is computed with
    map-side partial aggregation (each task contributes one partial
    per key) and only the tiny oversized-key set flows into the
    anti-join (AQE broadcasts it when small — unhinted on purpose, so
    an adversarial corpus full of oversized buckets degrades to a
    shuffle join instead of OOMing the driver)."""
    if not max_bucket or max_bucket <= 0:
        return df
    big = (df.groupBy(*bucket_cols).agg(F.count("*").alias("__n"))
           .filter(F.col("__n") > max_bucket)
           .select(*bucket_cols))
    return df.join(big, list(bucket_cols), "left_anti")


def exact_duplicate_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical (after normalization) documents.

    Returns (fingerprint, group_size, doc_ids sorted, keep_id) for groups
    with >1 member; ``keep_id`` = min doc id (deterministic survivor).
    """
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").cast("long").alias("group_size"),
             F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
             F.min(id_col).alias("keep_id"))
        .filter(F.col("group_size") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Keep one row per normalized-content fingerprint (min id wins)."""
    w_cols = df.columns
    ranked = (
        df.withColumn("__fp", fingerprint(F.col(text_col)))
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("__fp").orderBy(F.col(id_col))))
    )
    return ranked.filter(F.col("__rn") == 1).select(*w_cols)


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> (space-joined).

    Docs with fewer than ``n`` tokens yield an EMPTY array — guarded
    explicitly: ``sequence(1, 0)`` would otherwise produce the descending
    array [1, 0] and ``slice(toks, 0, n)`` throws INVALID_PARAMETER_VALUE
    on start=0, killing the whole stage for one short doc.

    The token array is BOUND as a lambda variable (transform over a
    1-element array): a free ``toks`` captured inside the per-shingle
    lambda would re-run the whole split() once per shingle — O(len^2)
    per document.
    """

    def body(toks: Column) -> Column:
        k = F.size(toks) - (n - 1)
        grams = F.transform(
            # greatest(k, 1) keeps sequence() ascending even when the WHEN
            # branch below discards the result (both branches are planned)
            F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
        return F.when(k >= 1, grams).otherwise(
            F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(tokens(text)), body), 1)


MINHASH_PRIME = 4294967311  # first prime > 2^32


def minhash_params(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic affine-permutation coefficients (a, b), a,b < 2^31.

    Derived from md5 so any SQL engine can re-derive them; bounded so
    a*h + b stays under 2^63 (h < 2^32) — ANSI-mode overflow-safe.
    """
    import hashlib

    out = []
    for i in range(num_perm):
        a = int(hashlib.md5(f"a:{i}".encode()).hexdigest()[:8], 16) % (2**31 - 1) + 1
        b = int(hashlib.md5(f"b:{i}".encode()).hexdigest()[:8], 16) % (2**31)
        out.append((a, b))
    return out


def _base_hash(s: Column) -> Column:
    """32-bit base hash of a shingle: first 8 hex chars of md5.
    One md5 per shingle total — permutations are affine mixes of it."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def minhash_signature(
    text: Column, num_perm: int = DEFAULT_NUM_PERM, shingle_n: int = 3
) -> Column:
    """array<long> MinHash signature; empty-shingle docs get NULL slots.

    Classic affine-permutation MinHash: base = md5-derived 32-bit hash per
    shingle (computed ONCE — the naive per-permutation-md5 formulation
    recomputes shingles+md5 k times and benched 13x slower); slot_i =
    min((a_i * base + b_i) mod P).
    """
    base = F.transform(shingles(text, shingle_n), _base_hash)
    params = F.array(*[
        F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
        for a, b in minhash_params(num_perm)
    ])
    # Single fold over the shingle hashes. The naive form — one
    # array_min(transform(base, mix_i)) per slot — duplicates the ``base``
    # subexpression num_perm times after Catalyst's projection collapse
    # (no CSE across the copies), i.e. recomputes every shingle md5 16x.
    # Inside aggregate(), ``h`` is a bound lambda variable: evaluated once
    # per shingle no matter how many slots read it.
    # finish lambda maps the untouched PRIME sentinel (empty shingle set —
    # mixes are always < PRIME) to NULL: array_min-over-empty semantics
    # without referencing ``base`` a second time.
    return F.aggregate(
        base,
        F.array_repeat(F.lit(MINHASH_PRIME).cast("long"), num_perm),
        lambda acc, h: F.zip_with(
            acc, params,
            lambda cur, p: F.least(
                cur, (p["a"] * h + p["b"]) % F.lit(MINHASH_PRIME))),
        lambda acc: F.transform(
            acc, lambda x: F.when(x == F.lit(MINHASH_PRIME),
                                  F.lit(None).cast("long")).otherwise(x)),
    )


def add_minhash(df: DataFrame, text_col: str = "text",
                num_perm: int = DEFAULT_NUM_PERM, shingle_n: int = 3) -> DataFrame:
    return df.withColumn("minhash", minhash_signature(
        F.col(text_col), num_perm, shingle_n))


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    max_bucket: int = 1000,
    materializer: Materializer | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs via band-bucket self-join.

    banding: ``bands`` bands of ``num_perm/bands`` rows; bucket key =
    md5 of the band slice. Self-join per bucket with id< id to emit each
    pair once. ``max_bucket`` drops degenerate buckets (all-identical
    boilerplate) whose pair blowup is quadratic — those docs are caught by
    exact dedup anyway.
    """
    if num_perm % bands != 0:
        # silent remainder slots would change candidate recall without any
        # signal (and the DuckDB oracle assumes exact divisibility)
        raise ValueError(
            f"num_perm ({num_perm}) must be divisible by bands ({bands})")
    rows_per_band = num_perm // bands
    sig = add_minhash(df.select(id_col, text_col), text_col, num_perm, shingle_n)
    # Materialization barrier, for two reasons that both bite at scale:
    # (1) each band column subscripts ``minhash`` rows_per_band times, and
    #     projection collapse would re-inline (= recompute) the whole
    #     signature per reference — the repartition exchange materializes
    #     the array once instead; (2) a small input (one parquet file =
    #     one partition) would otherwise run the whole hash pipeline on a
    #     single core.
    sig = sig.select(id_col, "minhash").repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
    band_cols = [
        F.md5(F.concat_ws(
            ",", *[F.col("minhash")[b * rows_per_band + r].cast("string")
                   for r in range(rows_per_band)])).alias(f"band_{b}")
        for b in range(bands)
    ]
    banded = sig.select(F.col(id_col).alias("id"), *band_cols)
    stacked = banded.selectExpr(
        "id",
        "stack({n}, {args}) as (band_idx, band_hash)".format(
            n=bands,
            args=", ".join(f"{b}, band_{b}" for b in range(bands))),
    )
    # skew guard: cap pathological buckets (groupBy-count, never a
    # window — see cap_buckets)
    stacked = cap_buckets(stacked, ["band_idx", "band_hash"], max_bucket)
    # self-join would recompute the signature scan on both sides — cut it
    # (``materializer``: localCheckpoint here; a scratch-table persist on
    # a real cluster — see Materializer above)
    stacked = (materializer or _default_materializer)(stacked)
    a = stacked.alias("a")
    b = stacked.alias("b")
    return (
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact n-gram Jaccard for given (id_a, id_b) candidate pairs."""
    sh = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingles(F.col(text_col), shingle_n)).alias("sh"))
    j = (
        pairs
        .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"),
              "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"),
              "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("uni", F.size(F.array_union("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / F.greatest(F.col("uni"), F.lit(1)), 6))
        .select("id_a", "id_b", "jaccard")
    )
    return j.filter(F.col("jaccard") >= threshold) if threshold > 0 else j


_SIMHASH_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("simhash", T.LongType()),
])


def simhash_column(text: Column) -> Column:
    """64-bit SimHash as a pure Column expression (whole-stage codegen).

    Token hash = first 16 hex chars of md5 interpreted as uint64 (stable
    across engines — the DuckDB oracle re-derives it); each bit contributes
    +1/-1 to a 64-slot accumulator folded over the token array with
    ``aggregate``; the sign of each slot becomes the output bit. The uint64
    hash is carried as two 32-bit halves (hi/lo as signed longs) so no
    intermediate overflows ANSI mode; the final value is the int64
    reinterpretation of the uint64 bit pattern (shiftleft wraps exactly
    like numpy's uint64→int64 view did).
    """
    toks = F.filter(tokens(text), lambda t: t != "")
    halves = F.transform(
        F.transform(toks, F.md5),
        lambda h: F.struct(
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("hi"),
            F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("lo"),
        ),
    )

    def bit_sign(h: Column, b: int) -> Column:
        half = h["lo"] if b < 32 else h["hi"]
        mask = F.lit(1 << (b % 32)).cast("long")
        return F.when(half.bitwiseAND(mask) != 0, F.lit(1)).otherwise(F.lit(-1))

    def assemble(acc: Column) -> Column:
        # acc is a BOUND lambda variable here: the fold result is computed
        # once however many times the 64 subscripts read it. Referencing
        # the aggregate() expression from an outer projection instead would
        # re-run the whole O(tokens x 64) fold once PER subscript — the
        # projection-collapse duplication trap (measured 80x slower).
        lo_val = sum(
            (F.when(acc[b] > 0, F.lit(1 << b).cast("long"))
             .otherwise(F.lit(0).cast("long")) for b in range(32)),
            start=F.lit(0).cast("long"))
        hi_val = sum(
            (F.when(acc[b] > 0, F.lit(1 << (b - 32)).cast("long"))
             .otherwise(F.lit(0).cast("long")) for b in range(32, 64)),
            start=F.lit(0).cast("long"))
        # hi_val < 2^32; java << wraps, giving the signed reinterpretation
        # for bit 63 — identical to the uint64 view
        return F.shiftleft(hi_val, 32).bitwiseOR(lo_val)

    # NULL text -> NULL token array -> aggregate() returns NULL without
    # running finish; normalize to the empty-doc signature 0
    return F.coalesce(
        F.aggregate(
            halves,
            F.array_repeat(F.lit(0), 64),
            lambda a, h: F.array(*[a[b] + bit_sign(h, b) for b in range(64)]),
            assemble,
        ),
        F.lit(0).cast("long"),
    )


def token_hash64(text: Column) -> Column:
    """Per-token 64-bit hashes as array<long> (int64 view of the first 16
    md5 hex chars) — computed ENTIRELY JVM-side; the hex array is bound as
    a lambda variable so md5 runs once per token."""
    toks = F.filter(tokens(text), lambda t: t != "")

    def pack(hexes: Column) -> Column:
        return F.transform(
            hexes,
            lambda h: F.shiftleft(
                F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), 32)
            .bitwiseOR(F.conv(F.substring(h, 9, 8), 16, 10).cast("long")))

    return F.element_at(
        F.transform(F.array(F.transform(toks, F.md5)), pack), 1)


def add_simhash(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", impl: str = "hybrid") -> DataFrame:
    """64-bit SimHash per document.

    Three kernels, identical outputs (tests assert equality); measured at
    sf0.1 x2 docs, min-of-3, local[8]:

    * ``hybrid`` (default, 0.59 s): md5 JVM-side via :func:`token_hash64`
      (engine-reproducible, zero Python hashing), bit-matrix sign
      aggregation as a vectorized numpy matmul in an Arrow UDF. Fastest
      because the hashing stays in codegen and the 64-wide arithmetic is
      SIMD instead of an interpreted higher-order fold.
    * ``native`` (3.09 s): pure Column expressions end-to-end — zero
      Python anywhere; the 64-slot aggregate() fold is interpreted, which
      costs ~5x over hybrid. The choice where Python workers are
      unavailable/banned.
    * ``pandas`` (1.22 s): the all-Python reference kernel (per-token
      hashlib inside the batch loop) — kept as the cross-check oracle.
    """
    if impl == "hybrid":
        import numpy as np

        @F.pandas_udf(T.LongType())
        def simhash_bits(hs: pd.Series) -> pd.Series:
            out = np.zeros(len(hs), np.int64)
            shifts = np.arange(64, dtype=np.uint64)
            one = np.uint64(1)
            for i, arr in enumerate(hs):
                if arr is None or len(arr) == 0:
                    continue
                h = np.asarray(arr, dtype=np.int64).view(np.uint64)[:, None]
                bits = ((h >> shifts) & one).astype(np.int64)
                acc = bits.sum(0) * 2 - len(arr)   # (+1/-1) bit sums
                v = ((acc > 0).astype(np.uint64) << shifts).sum(
                    dtype=np.uint64)
                out[i] = v.astype(np.int64)
            return pd.Series(out)

        return df.withColumn(
            "simhash", simhash_bits(token_hash64(F.col(text_col))))

    if impl == "native":
        return df.withColumn("simhash", simhash_column(F.col(text_col)))

    import hashlib

    import numpy as np

    @F.pandas_udf(T.LongType())
    def simhash_udf(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        for i, txt in enumerate(texts):
            toks = (txt or "").split()
            if not toks:
                continue
            acc = np.zeros(64, dtype=np.int64)
            shifts = np.arange(64, dtype=np.uint64)
            for t in toks:
                h = np.uint64(int(hashlib.md5(t.encode()).hexdigest()[:16], 16))
                bits = (h >> shifts) & np.uint64(1)
                acc += np.where(bits == np.uint64(1), 1, -1)
            v = np.uint64(0)
            for b in range(64):
                if acc[b] > 0:
                    v |= np.uint64(1) << np.uint64(b)
            out[i] = np.int64(v)
        return pd.Series(out)

    return df.withColumn("simhash", simhash_udf(F.col(text_col)))


def simhash_near_pairs(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", max_hamming: int = 3,
                       max_bucket: int = 0,
                       materializer: Materializer | None = None) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    Blocking: 4 x 16-bit chunks — two signatures within Hamming<=3 share at
    least one identical chunk (pigeonhole), so candidates come from an
    equi-join on (chunk_idx, chunk_value), never a cross join.

    ``max_bucket`` is the same skew guard ``lsh_candidate_pairs`` has:
    near-identical boilerplate that survives exact dedup lands whole
    signature chunks in one (chunk_idx, chunk_val) bucket and the
    self-join goes quadratic — oversized buckets are dropped (their
    members are exact-dedup's job). Default 0 = DISABLED: a silent
    default cap would drop true near-dup pairs in a chunk-heavy corpus
    with no signal (the repo's no-silent-caps rule) — large-corpus
    callers opt in explicitly, sized to their dedup'd bucket profile.
    """
    sh = (materializer or _default_materializer)(
        add_simhash(df.select(id_col, text_col), id_col, text_col)
        .select(F.col(id_col).alias("id"), "simhash")
    )  # don't run the hash kernel on both join sides
    chunks = sh.selectExpr(
        "id", "simhash",
        "stack(4, 0, (simhash >> 0) & 65535, 1, (simhash >> 16) & 65535, "
        "2, (simhash >> 32) & 65535, 3, (simhash >> 48) & 65535) "
        "as (chunk_idx, chunk_val)")
    chunks = cap_buckets(chunks, ["chunk_idx", "chunk_val"], max_bucket)
    a, b = chunks.alias("a"), chunks.alias("b")
    cands = (
        a.join(b, (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
               & (F.col("a.chunk_val") == F.col("b.chunk_val"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.simhash").alias("sh_a"), F.col("b.simhash").alias("sh_b"))
        .distinct()
    )
    return (
        cands.withColumn("hamming", F.bit_count(
            F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def cross_split_contamination(
    df: DataFrame,
    split_col: str = "split",
    train_split: str = "train",
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train/eval CONTAMINATION check — the standard n-gram-overlap
    decontamination rule for pretraining corpora: an eval document is
    contaminated to the degree its word n-grams also occur anywhere in
    the training split.

    Output: one row per NON-train document —
    (id, split, n_shingles, n_overlapping, overlap_ratio). Documents
    too short to carry a single n-gram report 0/0/0.0 (not contaminated
    by convention — nothing to leak).

    Plan shape at 100 TB: shingles hash to 32-bit md5 prefixes before
    the join (int equi-join, never strings); the train side reduces to
    DISTINCT grams (map-side partial dedup); the eval side left-semi
    +groupBy counts overlaps. One shuffle on the gram hash each side —
    inherent to the semantics (the gram is the join key) — and no
    collect, no per-row Python.
    """
    grams = (
        df.select(F.col(id_col), F.col(split_col),
                  F.explode(F.array_distinct(
                      shingles(F.col(text_col), n))).alias("g"))
        .withColumn("gh", F.conv(F.substring(F.md5("g"), 1, 8), 16, 10)
                    .cast("long"))
    )
    train_g = (grams.filter(F.col(split_col) == train_split)
               .select("gh").distinct())
    ev = grams.filter(F.col(split_col) != train_split)
    totals = ev.groupBy(id_col, split_col).agg(
        F.count("*").cast("long").alias("n_shingles"))
    hits = (ev.join(train_g, "gh", "left_semi")
            .groupBy(id_col, split_col)
            .agg(F.count("*").cast("long").alias("n_overlapping")))
    base = (df.filter(F.col(split_col) != train_split)
            .select(id_col, split_col).distinct())
    return (
        base.join(totals, [id_col, split_col], "left")
        .join(hits, [id_col, split_col], "left")
        .withColumn("n_shingles",
                    F.coalesce("n_shingles", F.lit(0).cast("long")))
        .withColumn("n_overlapping",
                    F.coalesce("n_overlapping", F.lit(0).cast("long")))
        .withColumn(
            "overlap_ratio",
            F.when(F.col("n_shingles") > 0,
                   F.round(F.col("n_overlapping")
                           / F.col("n_shingles"), 6))
            .otherwise(F.lit(0.0)))
    )
