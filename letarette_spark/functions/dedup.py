"""Deduplication operators for large-scale training-data pipelines.

All operators are DataFrame-native; hashing is md5/sha2 (identical builtin
in Spark and ANSI-SQL engines, so every deterministic step is oracle-
checkable). Scale notes per operator inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from letarette_spark.functions.simple_text import token_array


def exact_duplicate_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup by content hash: (text_hash, n, members).

    Scale: a single groupBy on the hash — map-side partial agg, AQE handles
    the (rare) giant duplicate-cluster key."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.concat_ws(
                ",", F.sort_array(F.collect_list(F.col(id_col).cast("string")))
            ).alias("members"),
        )
        .filter(F.col("n") > 1)
    )


def _shingle_array_expr(text_col: str, n: int):
    """array<string> of DISTINCT n-gram token shingles, document order of
    first occurrence irrelevant (set semantics via array_distinct)."""
    arr = token_array(text_col)
    idx = F.when(
        F.size(arr) >= n, F.sequence(F.lit(0), F.size(arr) - n)
    ).otherwise(F.array().cast("array<int>"))
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(arr, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    return F.array_distinct(sh)


def _shingle_sig_frame(
    df: DataFrame,
    n: int,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, _sh array<string>[, sig_0..sig_{k-1}]) in ONE Arrow stage.

    Tokenization stays a JVM codegen expression (token_array: split +
    lower + length filter — bit-exact across engines); the per-shingle
    work — building the n-gram strings, per-doc distinct, and the k
    MinHash permutations — moves to mapInArrow (guide §4.2): the
    interpreted HigherOrderFunction chain (transform + n×element_at +
    concat_ws, then k×md5 per shingle) measured ~5 s + ~5.7 s at 50k
    docs on local[32], vs well under a second for the same loop in
    Python/hashlib over Arrow batches.

    Bit-identical by construction: ``' '.join`` == concat_ws(' ') over
    non-null tokens, dict.fromkeys == array_distinct (first-occurrence
    order, and every consumer is order-insensitive anyway), and
    hashlib.md5(...).digest() byte order == Spark md5's lowercase-hex
    order (hex is a monotone byte map), so the per-permutation min is
    the same value the JVM fold produced. Docs with < n tokens emit an
    empty _sh and NULL sigs, matching the expression form."""
    import pyarrow as pa

    from pyspark.sql import types as T

    id_field = df.schema[id_col]
    fields = [
        T.StructField(id_col, id_field.dataType),
        T.StructField("_sh", T.ArrayType(T.StringType())),
    ] + [T.StructField(f"sig_{i}", T.StringType()) for i in range(k)]
    out_schema = T.StructType(fields)
    nn, kk = int(n), int(k)

    def build(batches):
        import hashlib

        import pyarrow as pa  # noqa: F811 — workers import locally

        md5 = hashlib.md5
        sufs = [("#%d" % i).encode() for i in range(kk)]
        for batch in batches:
            idcol = batch.column(0)
            toks = batch.column(1).to_pylist()
            offs = [0]
            flat: list[str] = []
            sig_lists: list[list] = [[] for _ in range(kk)]
            for lst in toks:
                if lst and len(lst) >= nn:
                    join = " ".join
                    sh = list(
                        dict.fromkeys(
                            join(lst[i: i + nn])
                            for i in range(len(lst) - nn + 1)
                        )
                    )
                else:
                    sh = []
                flat.extend(sh)
                offs.append(len(flat))
                if kk:
                    if sh:
                        mins: list = [None] * kk
                        for s in sh:
                            e = s.encode()
                            for i, suf in enumerate(sufs):
                                d = md5(e + suf).digest()
                                m = mins[i]
                                if m is None or d < m:
                                    mins[i] = d
                        for i in range(kk):
                            sig_lists[i].append(mins[i].hex())
                    else:
                        for i in range(kk):
                            sig_lists[i].append(None)
            arrays = [
                idcol,
                pa.ListArray.from_arrays(
                    pa.array(offs, pa.int32()), pa.array(flat, pa.string())
                ),
            ] + [pa.array(sig_lists[i], pa.string()) for i in range(kk)]
            yield pa.RecordBatch.from_arrays(
                arrays, names=[f.name for f in fields]
            )

    from letarette_spark.functions.simple_text import token_array

    src = df.select(F.col(id_col), token_array(text_col).alias("_toks"))
    return src.mapInArrow(build, schema=out_schema)


def shingle_arrays(
    df: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, _sh array<string>) — per-doc distinct shingle sets, one row per
    document. The compact carrier for the shingle pipeline: `shingles`
    (the exploded view) and per-doc set sizes both derive from it, so the
    tokenize chain runs once per evaluation instead of once per consumer.
    Shingle construction runs in the Arrow stage (_shingle_sig_frame);
    the JVM expression twin (_shingle_array_expr) remains for the
    exploded `shingles()` view and as the equivalence oracle in tests."""
    return _shingle_sig_frame(df, n, 0, id_col, text_col)


def shingles(
    df: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, shingle) — distinct n-gram token shingles per document, built
    with JVM array intrinsics (transform over a token array), no UDF.

    Documents with fewer than *n* tokens yield no shingles (ANSI-safe: a
    descending F.sequence would otherwise produce [0, -1] and element_at
    past the array end throws under Spark 4's ANSI mode)."""
    # per-doc set semantics via array_distinct BEFORE the explode: identical
    # to a post-explode (id, shingle) DISTINCT but with ZERO shuffle — the
    # distinct would exchange the widest dataset in the whole pipeline.
    return df.select(
        F.col(id_col),
        F.explode(_shingle_array_expr(text_col, n)).alias("shingle"),
    )


# Above this many shingle instances the driver-built inverted index for
# the SPA candidate scan (16 bytes/instance + 12 bytes/doc) stops being a
# sensible broadcast; jaccard_pairs then falls back to the distributed
# hash-keyed self-join. 64M instances ~= 1 GB driver-side, far beyond any
# oracle-scale corpus this operator is for (the scale path is
# minhash_lsh_pairs — see the jaccard_pairs docstring).
_SPA_MAX_INSTANCES = 64 * 1024 * 1024


def _spa_candidate_pairs(
    arr: DataFrame, threshold: float, id_col: str
):
    """Candidate (a, b) pairs whose shingle-hash intersection count passes
    the division-free jaccard bound ih*(1+t) >= t*(sa+sb), computed with a
    sparse-accumulator scan against a broadcast inverted index — the
    guide §8 shape: the quadratic pair intermediate (~sum over shingles of
    df^2 rows; 116M distinct pairs at 50k docs) never exists as a Spark
    dataset, only the ~bound-passing survivors do (283k at 50k docs).

    Returns (cand_df, broadcast_handle) — the caller destroys the handle
    after materializing — or None when the corpus exceeds
    _SPA_MAX_INSTANCES, the id type is non-numeric or the ids are not
    unique (fallback to the distributed join). Hash collisions only inflate ih (superset; the
    exact array_intersect verification downstream decides), and the bound
    carries a 1e-9 slack so float rounding can never drop a
    truly-qualifying pair."""
    import numpy as np

    from pyspark.sql import types as T

    id_type = arr.schema[id_col].dataType
    if not isinstance(
        id_type, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
    ):
        return None
    spark = arr.sparkSession
    hs_frame = arr.select(
        F.col(id_col),
        F.size("_sh").alias("sz"),
        F.transform("_sh", lambda s: F.xxhash64(s)).alias("hs"),
    )
    total = hs_frame.agg(
        F.coalesce(F.sum("sz"), F.lit(0)).alias("t")
    ).collect()[0]["t"]
    if total > _SPA_MAX_INSTANCES:
        return None
    idt = id_type.simpleString()
    out_schema = f"a {idt}, b {idt}"
    if total == 0:
        return spark.createDataFrame([], out_schema), None

    # ---- driver-side index: ~16 bytes per shingle instance ----
    pdf = hs_frame.toPandas().sort_values(id_col, kind="mergesort")
    ids_np = pdf[id_col].to_numpy(np.int64)
    if (np.diff(ids_np) == 0).any():
        # duplicate ids: searchsorted maps every copy to the first one, so
        # a later copy would pair with itself — the join path handles them
        return None
    sz_np = pdf["sz"].to_numpy(np.int64)
    flat = np.concatenate(
        [np.asarray(x, np.int64) for x in pdf["hs"] if len(x)]
    ) if sz_np.sum() else np.empty(0, np.int64)
    dis = np.repeat(np.arange(len(pdf), dtype=np.int32), sz_np)
    order = np.argsort(flat, kind="stable")
    bc = spark.sparkContext.broadcast(
        (flat[order], dis[order], sz_np.astype(np.int32), ids_np)
    )

    cut = float(threshold)
    mul = 1.0 + cut

    def scan(batches):
        import numpy as np  # noqa: F811
        import pandas as pd

        H, D, SZ, ID = bc.value
        for b in batches:
            ids = b[id_col].to_numpy(np.int64)
            dia = np.searchsorted(ID, ids)
            out_a: list = []
            out_b: list = []
            hs_col = b["hs"]
            for j in range(len(b)):
                hs = hs_col.iloc[j]
                if hs is None or not len(hs):
                    continue
                h = np.asarray(hs, np.int64)
                lo = np.searchsorted(H, h, "left")
                hi = np.searchsorted(H, h, "right")
                da = dia[j]
                cand = np.concatenate(
                    [D[lv:rv] for lv, rv in zip(lo.tolist(), hi.tolist())]
                )
                cand = cand[cand > da]
                if cand.size == 0:
                    continue
                bs, cnts = np.unique(cand, return_counts=True)
                mask = cnts * mul >= cut * (SZ[da] + SZ[bs]) - 1e-9
                bs = bs[mask]
                if bs.size:
                    out_a.append(np.full(bs.size, ID[da], np.int64))
                    out_b.append(ID[bs])
            if out_a:
                yield pd.DataFrame(
                    {"a": np.concatenate(out_a), "b": np.concatenate(out_b)}
                )
            else:
                yield pd.DataFrame(
                    {"a": np.empty(0, np.int64), "b": np.empty(0, np.int64)}
                )

    return hs_frame.mapInPandas(scan, out_schema), bc


def jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = None,
    eager_cleanup: bool = True,
) -> DataFrame:
    """(a, b, jaccard) for document pairs with n-gram Jaccard >= threshold.

    ``eager_cleanup`` (default) materializes the (small) qualifying pair
    set and releases every persisted intermediate deterministically; pass
    False to get the fully lazy plan (for .explain / plan capture;
    intermediates are then cleaned when the frame is garbage-collected).

    Scale: the shingle self-join explodes on high-frequency shingles
    (quadratic per shingle); *max_shingle_df* drops shingles appearing in
    more than that many docs before pairing — standard df-cut used by
    near-dup pipelines. At web scale prefer minhash_lsh_pairs (candidate
    generation is linear in docs) and use this only to verify candidates."""
    # ONE tokenize+shingle evaluation feeds sizes and both join legs (the
    # un-persisted exploded form re-ran the tokenize chain per consumer —
    # three times); eager localCheckpoint of the (small) qualifying pair
    # set releases the cache deterministically, the same contract as
    # minhash_lsh_pairs.
    arr = shingle_arrays(df, n, id_col, text_col).persist()
    try:
        if max_shingle_df is not None:
            # df-cut path: jaccard is over the CUT shingle sets, so the
            # exact intersection must be counted over the cut exploded
            # rows — keep the string-keyed formulation
            sh = arr.select(F.col(id_col), F.explode("_sh").alias("shingle"))
            w = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("sdf"))
            sh = sh.join(
                F.broadcast(w.filter(F.col("sdf") <= max_shingle_df)), "shingle"
            ).drop("sdf")
            sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
            a = sh.select(F.col(id_col).alias("a"), "shingle")
            b = sh.select(F.col(id_col).alias("b"), "shingle")
            inter = (
                a.join(b, "shingle")
                .filter(F.col("a") < F.col("b"))
                .groupBy("a", "b")
                .agg(F.count(F.lit(1)).cast("double").alias("i"))
            )
            sa = sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sa"))
            sb = sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("sb"))
            return (
                inter.join(sa, "a")
                .join(sb, "b")
                .select(
                    "a",
                    "b",
                    (
                        F.col("i") / (F.col("sa") + F.col("sb") - F.col("i"))
                    ).alias("jaccard"),
                )
                .filter(F.col("jaccard") >= threshold)
                .localCheckpoint()
            )
        # Full-set path. Candidate generation never materializes the
        # quadratic pair intermediate when the corpus fits the SPA index
        # (_spa_candidate_pairs, guide §8: decide with small proxies —
        # shingle hashes — and let only bound-passing survivors exist as
        # rows). Oversized/non-numeric-id corpora fall back to a
        # distributed self-join keyed on xxhash64(shingle) — 8-byte keys
        # instead of ~n*word-size strings through the exchange (guide
        # §2.3 "narrower types"). Either way hash collisions only INFLATE
        # the per-pair match count (ih >= true i: equal shingles always
        # hash equal), so the division-free prefilter
        # ih*(1+t) >= t*(sa+sb) passes a SUPERSET of the truly-qualifying
        # pairs, and the final jaccard for every survivor is recomputed
        # EXACTLY from the string shingle arrays (size(array_intersect))
        # with the same double arithmetic as before: the output is
        # bit-identical and collision-independent.
        bc = None
        spa = _spa_candidate_pairs(arr, threshold, id_col)
        if spa is not None:
            cand, bc = spa
        else:
            hsh = arr.select(
                F.col(id_col),
                F.size("_sh").alias("sz"),
                F.explode("_sh").alias("_s"),
            ).select(F.col(id_col), "sz", F.xxhash64("_s").alias("h"))
            a = hsh.select(
                F.col(id_col).alias("a"), F.col("sz").alias("sa"), "h"
            )
            b = hsh.select(
                F.col(id_col).alias("b"), F.col("sz").alias("sb"), "h"
            )
            cand = (
                a.join(b, "h")
                .filter(F.col("a") < F.col("b"))
                .groupBy("a", "b")
                .agg(
                    F.count(F.lit(1)).alias("ih"),
                    F.first("sa").alias("sa"),
                    F.first("sb").alias("sb"),
                )
                .filter(
                    F.col("ih") * F.lit(1.0 + threshold)
                    >= F.lit(float(threshold)) * (F.col("sa") + F.col("sb"))
                    - F.lit(1e-9)
                )
                .select("a", "b")
            )
        verified = _jaccard_verify_arrays(arr, cand, threshold, id_col)
        if threshold <= 0:
            # the string-keyed formulation only ever emitted pairs
            # sharing >= 1 TRUE shingle (i >= 1 <=> jaccard > 0); at
            # threshold <= 0 a hash-collision-only candidate would
            # otherwise slip through with jaccard == 0
            verified = verified.filter(F.col("jaccard") > 0)
        if not eager_cleanup:
            return verified
        try:
            return verified.localCheckpoint()
        finally:
            if bc is not None:
                bc.destroy()
    finally:
        if eager_cleanup:
            arr.unpersist()


def jaccard_for_pairs(
    sh: DataFrame,
    cand: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    _persisted: list | None = None,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle Jaccard for an explicit candidate-pair set.

    (a, b, jaccard >= threshold) computed ONLY for the pairs in *cand*:
    shingles are first semi-joined to the candidate doc set, then the
    intersection count comes from cand ⋈ shingles(a) ⋈ shingles(b) keyed on
    (b, shingle) — total work is sum over candidate pairs of |shingles(a)|,
    linear in candidates, never an all-pairs shingle self-join."""
    cand_docs = (
        cand.select(F.col("a").alias(id_col))
        .union(cand.select(F.col("b").alias(id_col)))
        .distinct()
    )
    # the candidate docs' shingles feed three branches (sizes + both join
    # legs): persist so the tokenize→explode→semi-join pipeline runs once
    csh = sh.join(cand_docs, id_col, "left_semi").persist()
    if _persisted is not None:
        _persisted.append(csh)  # caller unpersists after materializing
    if sizes is None:
        sizes = csh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    sa = csh.select(F.col(id_col).alias("a"), "shingle")
    sb = csh.select(F.col(id_col).alias("b"), "shingle")
    inter = (
        cand.join(sa, "a")
        .join(sb, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("double").alias("i"))
    )
    s_a = sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sa"))
    s_b = sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("sb"))
    return (
        inter.join(s_a, "a")
        .join(s_b, "b")
        .select(
            "a",
            "b",
            (F.col("i") / (F.col("sa") + F.col("sb") - F.col("i"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _jaccard_verify_arrays(
    arr: DataFrame,
    cand: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact shingle Jaccard for an explicit candidate-pair set, computed
    from the per-doc distinct-shingle ARRAYS: attach both docs' arrays to
    each pair (two id-keyed joins of |cand| rows) and evaluate
    ``i = size(array_intersect(sha, shb))`` natively per row. Integer set
    math + one double division — bit-identical to the exploded
    join/groupBy formulation (arrays are per-doc distinct sets, so the
    intersection size equals the (a, b, shingle) match count), but the
    verification moves |cand| rows instead of |cand| x |shingles(a)|
    exploded rows through two shuffles and an aggregation."""
    sa = arr.select(
        F.col(id_col).alias("a"), F.col("_sh").alias("_sha")
    )
    sb = arr.select(
        F.col(id_col).alias("b"), F.col("_sh").alias("_shb")
    )
    inter = F.size(F.array_intersect("_sha", "_shb")).cast("double")
    sz_a = F.size("_sha").cast("double")
    sz_b = F.size("_shb").cast("double")
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            (inter / (sz_a + sz_b - inter)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures_from_shingles(
    sh: DataFrame, k: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """MinHash signatures over an existing (id, shingle) frame — lets
    callers that also need the shingles (LSH verification) tokenize once."""
    aggs = [
        F.min(F.md5(F.concat_ws("#", F.col("shingle"), F.lit(str(i))))).alias(f"sig_{i}")
        for i in range(k)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def _sig_cols(sh_arr, k: int):
    """k MinHash signature columns folded over a shingle ARRAY: per
    permutation i, array_min over md5(shingle || '#' || i) — the same
    min-over-set as the groupBy form (array elements are the per-doc
    distinct shingle set), evaluated per row with no explode, no shuffle."""
    # NB: the lambda must be unary — PySpark binds a second lambda param
    # to the ARRAY INDEX (not a closure default), which would corrupt the
    # permutation tag.
    def one(i: int):
        return F.array_min(
            F.transform(
                sh_arr, lambda s: F.md5(F.concat_ws("#", s, F.lit(str(i))))
            )
        )

    return [one(i).alias(f"sig_{i}") for i in range(k)]


def minhash_signatures(
    df: DataFrame,
    k: int = 8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, sig_0..sig_{k-1}) — k-permutation MinHash where permutation i is
    min over shingles of md5(shingle || '#' || i). md5-as-permutation keeps
    the signature bit-identical across engines (oracle-checkable) and
    deterministic across cluster sizes.

    Scale: a per-row fold over each doc's distinct-shingle array — ZERO
    shuffle (the earlier explode + groupBy(id) shape exchanged every
    shingle instance to rebuild exactly this per-doc grouping the rows
    started in), with the k permutations computed in the Arrow stage
    alongside shingle construction (hashlib.md5 == Spark md5 byte-for-
    byte; see _shingle_sig_frame). Docs with no shingles (< n tokens)
    are dropped, matching the groupBy form where they produce no
    group."""
    frame = _shingle_sig_frame(df, n, k, id_col, text_col)
    return frame.filter(F.size("_sh") > 0).select(
        F.col(id_col), *[F.col(f"sig_{i}") for i in range(k)]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    bands: int = 4,
    rows_per_band: int = 2,
    n: int = 3,
    threshold: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
    eager_cleanup: bool = True,
) -> DataFrame:
    """Near-dup pairs via MinHash banding: docs sharing any band bucket are
    candidates; candidates are verified with the true n-gram Jaccard.

    ``eager_cleanup`` (default) materializes the (small) verified pair set
    and releases every persisted intermediate deterministically; pass
    False to get the fully lazy plan (intermediates are then cleaned when
    the returned frame is garbage-collected).

    Scale: candidate generation is groupBy(band_hash) — linear in corpus
    size — and verification (_jaccard_verify_arrays) moves only |cand|
    rows carrying the two docs' shingle arrays, so the whole plan is
    linear in corpus + candidates.
    jaccard_pairs stays as the exhaustive all-pairs oracle for tests."""
    k = bands * rows_per_band
    # ONE shingle pipeline feeds signatures AND verification (tokenize +
    # shingle + distinct is the dominant cost — never run it twice). The
    # compact per-doc ARRAY form is what persists, with the k MinHash
    # permutations computed in the same Arrow stage (zero shuffle, no
    # explode + groupBy(id) round trip; see _shingle_sig_frame); the
    # exploded view for verification derives from the cache.
    arr = _shingle_sig_frame(df, n, k, id_col, text_col).persist()
    sigs = arr.filter(F.size("_sh") > 0).select(
        F.col(id_col), *[F.col(f"sig_{i}") for i in range(k)]
    )
    band_cols = [
        F.md5(
            F.concat_ws(
                "|",
                F.lit(str(bnd)),
                *[F.col(f"sig_{bnd * rows_per_band + r}") for r in range(rows_per_band)],
            )
        ).alias(f"band_{bnd}")
        for bnd in range(bands)
    ]
    banded = sigs.select(F.col(id_col), *band_cols)
    stacked = banded.select(
        F.col(id_col),
        F.explode(F.array(*[F.col(f"band_{bnd}") for bnd in range(bands)])).alias("bucket"),
    )
    l = stacked.select(F.col(id_col).alias("a"), "bucket")
    r = stacked.select(F.col(id_col).alias("b"), "bucket")
    cand = (
        l.join(r, "bucket")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        .persist()  # both verification join legs read it
    )
    persisted = [arr, cand]
    verified = _jaccard_verify_arrays(arr, cand, threshold, id_col)
    if not eager_cleanup:
        return verified
    # materialize the (small) verified pair set eagerly, then release every
    # intermediate cache deterministically — library calls must not leak
    # persisted RDDs for the session's lifetime (even when the job fails)
    try:
        return verified.localCheckpoint()
    finally:
        for df in persisted:
            df.unpersist()


# 64 signed-long bit weights; bit 63 is the sign bit
_BIT_WEIGHTS = [1 << i for i in range(63)] + [-(1 << 63)]


def _md5_bit_contribs(t):
    """array<int>[64] of ±1: bit i of a 64-bit md5-derived token hash
    (bits 0..31 from hex chars 1-8, bits 32..63 from chars 9-16). md5 keeps
    the fingerprint bit-identical in any SQL engine (oracle-checkable);
    values < 2^32 make the floor-divide bit test exact in float64."""
    h = F.md5(t)
    a = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    b = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    return F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: F.when(
            F.floor(
                F.when(i < 32, a).otherwise(b)
                / F.pow(F.lit(2.0), (i % 32).cast("double"))
            ).cast("long")
            % 2
            == 1,
            F.lit(1),
        ).otherwise(F.lit(-1)),
    )


def simhash64(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash) 64-bit SimHash over token instances.

    Single-pass per-document fold (F.aggregate over the token array): each
    token adds ±1 per bit position into a 64-counter accumulator, the sign
    vector packs into one long. Zero shuffles, zero row amplification —
    the per-(doc,bit) explode/groupBy formulation shuffled 64x the corpus.
    Summing over instances equals the classic tf-weighted per-term sum.
    Documents with no tokens hash to 0."""
    arr = token_array(text_col)
    zero = F.array_repeat(F.lit(0).cast("long"), 64)
    acc = F.aggregate(
        arr, zero, lambda a, t: F.zip_with(a, _md5_bit_contribs(t), lambda c, v: c + v)
    )
    weights = F.array(*[F.lit(w).cast("long") for w in _BIT_WEIGHTS])
    sim = F.aggregate(
        F.zip_with(
            acc, weights, lambda c, w: F.when(c > 0, w).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda s, v: s + v,
    )
    return df.select(F.col(id_col), sim.alias("simhash"))


def embedding_duplicate_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(a, b, cos) embedding near-dup pairs by cosine >= threshold.

    Exhaustive O(n^2) — the verification oracle for modest n; the scale
    path is lsh_embedding_duplicate_pairs (banded hyperplane buckets)."""
    from letarette_spark.functions.similarity import cosine_expr

    a = emb.select(F.col(id_col).alias("a"), F.col(vec_col).cast("array<double>").alias("va"))
    b = emb.select(F.col(id_col).alias("b"), F.col(vec_col).cast("array<double>").alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", cosine_expr("va", "vb").alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def lsh_embedding_duplicate_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    bands: int = 2,
    planes_per_band: int = 4,
    dim: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eager_cleanup: bool = True,
) -> DataFrame:
    """(a, b, cos) embedding near-dup pairs via banded hyperplane LSH —
    the 100TB path: candidates are per-(band, bucket) self-join collisions
    (expected bucket size n/2^planes_per_band), verified with exact cosine
    via two id-keyed joins back to the vectors. No cross join anywhere.

    Recall per pair at angle θ is 1-(1-(1-θ/π)^planes)^bands — tune bands
    up for recall, planes_per_band up for precision/bucket size.
    embedding_duplicate_pairs is the exhaustive oracle."""
    from letarette_spark.functions.similarity import (
        _blas_cosine_candidates,
        banded_lsh_buckets,
        cosine_expr,
    )

    # Candidate generation: the old shape self-joined the bucket table and
    # paid one interpreted-cosine evaluation per within-bucket pair
    # (quadratic per bucket, ~µs/pair). New shape: ship each bucket's
    # vectors to ONE applyInPandas group and let a BLAS matmul prefilter
    # propose pairs within `margin` of the cut; the exact JVM fold below
    # re-scores every candidate with the exact >= threshold test, so the
    # verified pair set is bit-identical (see _blas_cosine_candidates).
    # Bucket VALUES still come from the JVM plane-dot expression — sign
    # flips at the hyperplane boundary would change candidates, so that
    # computation is not moved to numpy.
    buckets = banded_lsh_buckets(
        emb, bands, planes_per_band, dim, seed, id_col, vec_col
    )
    v = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    assigned = buckets.withColumnRenamed(id_col, "id").join(v, "id")
    cand = _blas_cosine_candidates(
        assigned, ["band", "bucket"], threshold
    ).distinct()  # a pair colliding in several bands verifies once
    idt = v.schema["id"].dataType.simpleString()
    va = emb.select(
        F.col(id_col).alias("a"), F.col(vec_col).cast("array<double>").alias("va")
    )
    vb = emb.select(
        F.col(id_col).alias("b"), F.col(vec_col).cast("array<double>").alias("vb")
    )
    verified = (
        cand.join(va, "a")
        .join(vb, "b")
        .select(
            F.col("a").cast(idt).alias("a"),
            F.col("b").cast(idt).alias("b"),
            cosine_expr("va", "vb").alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )
    if not eager_cleanup:
        return verified
    return verified.localCheckpoint()  # materialize the small pair set  # released even when the job fails


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 50,
) -> DataFrame:
    """(id, component) — connected components of the near-duplicate pair
    graph; component = the minimum node id reachable from each node.

    This is the missing last step of every dedup pipeline: pair emitters
    (minhash_lsh_pairs / lsh_embedding_duplicate_pairs / jaccard_pairs)
    produce edges, but keep/drop decisions need *clusters* — a doc dup'd
    against B and C must land in one group with one canonical survivor
    even when (B, C) was never emitted as a pair.

    Algorithm: distributed min-label propagation with pointer doubling.
    Each round (1) lowers every node's label to the min over its
    neighbors' labels, then (2) short-circuits chains by relabeling to
    the label's own label (p(u) := p(p(u)), the classic hook-and-jump
    acceleration — see Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14, for the family). Labels are
    monotonically non-increasing and bounded by the component minimum,
    and a fixpoint of step (1) over symmetric edges is constant on every
    component — so on convergence the label IS the component min. The
    doubling step makes path-shaped components converge in O(log
    diameter) rounds instead of O(diameter).

    Scale: state is one narrow (id, comp) frame, all joins are keyed on
    uniformly-distributed node ids (no skew concentration), each round
    is localCheckpoint'ed so the loop's lineage stays flat, and the
    convergence test rides the checkpoint action (no extra scan of the
    edge set). Duplicate clusters are overwhelmingly tiny (near-dup
    radius), so real corpora converge in 2-3 rounds.
    """
    e = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    edges = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    edges = edges.persist()
    lab = (
        edges.select(F.col("u").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("comp"))
        .localCheckpoint()
    )
    try:
        for _ in range(max_iter):
            # (1) min over own label + neighbors' labels
            nbr = (
                edges.join(lab.withColumnRenamed("id", "v"), "v")
                .groupBy("u")
                .agg(F.min("comp").alias("ncomp"))
                .withColumnRenamed("u", "id")
            )
            lowered = (
                lab.join(nbr, "id", "left")
                .select("id", F.least("comp", "ncomp").alias("comp"))
            )
            # (2) pointer doubling: comp := comp(comp)
            target = lowered.select(
                F.col("id").alias("comp"), F.col("comp").alias("tcomp")
            )
            doubled = (
                lowered.join(target, "comp", "left")
                .select("id", F.least("comp", "tcomp").alias("comp"))
            )
            nxt = doubled.localCheckpoint()
            changed = (
                nxt.join(lab.withColumnRenamed("comp", "prev"), "id")
                .filter(F.col("comp") != F.col("prev"))
                .limit(1)
                .count()
            )
            lab = nxt
            if changed == 0:
                break
        else:
            # loop exhausted without the fixpoint break: labels may not be
            # component minima, and a silent return would make downstream
            # keep/drop decisions wrong. Unreachable in practice — pointer
            # doubling converges in O(log diameter) rounds, so max_iter=50
            # covers diameters beyond 2^49 — but fail loudly if it happens.
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds"
            )
        return lab.select("id", F.col("comp").alias("component"))
    finally:
        edges.unpersist()


def duplicate_clusters(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 50,
    max_members: int = 128,
) -> DataFrame:
    """(component, size, members) — one row per duplicate cluster.

    component doubles as the canonical (keep) id: it is the minimum
    member, mirroring exact_duplicate_groups' deterministic choice.

    ``members`` lists AT MOST *max_members* ids (the smallest by sort
    order); ``size`` is always exact. At 100-TB scale a boilerplate
    mega-cluster can have 10^7+ members — an unbounded collect_list would
    concentrate the whole cluster into one in-memory row. The bound is
    applied BEFORE any per-cluster collection: a row_number window keeps
    only the first max_members rows per component (the window sort spills
    to disk; a giant list row cannot), so the aggregated roster row is
    O(max_members) regardless of cluster size. Callers that need the full
    roster use connected_components(), which stays one narrow row per
    member."""
    from pyspark.sql import Window

    comp = connected_components(pairs, a_col, b_col, max_iter)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    w = Window.partitionBy("component").orderBy("id")
    bounded = (
        comp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_members)
    )
    roster = bounded.groupBy("component").agg(
        F.concat_ws(
            ",", F.sort_array(F.collect_list(F.col("id").cast("string")))
        ).alias("members")
    )
    return sizes.join(roster, "component").select("component", "size", "members")


def drop_duplicates_by_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 50,
) -> DataFrame:
    """Keep-canonical filter: drop every doc that belongs to a duplicate
    cluster and is not its minimum member. Docs in no pair pass through.

    Scale: the drop list is |dup docs| - |clusters| rows — a left_anti
    join on the id, broadcast-eligible under AQE when small."""
    comp = connected_components(pairs, a_col, b_col, max_iter)
    losers = comp.filter(F.col("component") != F.col("id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def near_dedup(
    df: DataFrame,
    bands: int = 4,
    rows_per_band: int = 2,
    n: int = 3,
    threshold: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One-call near-dedup: the full training-data pipeline composed —
    MinHash-LSH candidate pairs (linear), exact-Jaccard verification
    (candidate-scoped), connected components, keep the minimum member of
    each duplicate cluster, pass everything else through.

    Returns *df* minus the non-canonical duplicates. Every stage is the
    scale path: no operator in the chain is super-linear in corpus size."""
    pairs = minhash_lsh_pairs(
        df, bands, rows_per_band, n, threshold, id_col, text_col
    )
    return drop_duplicates_by_pairs(df, pairs, id_col)
