"""Document deduplication operators for training-data pipelines.

The reference's dedup is URL/natural-key equality (realestate_index_scraper
.py:474,510; dashboard/utils/init_scraper.py:74-78). A 100 TB corpus needs
content-level dedup as well; these operators provide the standard ladder:

  exact        md5-fingerprint hash-groupBy (one shuffle on the fingerprint)
  ngram        shingle-overlap blocking (explode shingles -> df-bounded
               posting list per shingle -> JVM-side pair emission ->
               pair-count filter); the rare-ish 3-gram shingles plus the
               max_df cap keep per-shingle fan-out bounded
  minhash-LSH  per-band min-hash signatures -> posting list per band bucket
               -> pair emission; only bucket collisions are compared (the
               10^10-doc scale path)
  simhash      sign-aggregated token-hash bits -> 64->`bits`-bit fingerprint;
               hamming-near pairs via pigeonhole-banded equi-join +
               xor/bit_count

Pair generation for ngram/LSH (many small buckets) is posting-list style
(groupBy bucket -> array_sort(collect_list) -> flatten/transform pair
expansion), not a self-equi-join: one exchange instead of three, and
n*(n-1)/2 emitted rows per bucket instead of the a<b-filtered join's
n*(n-1). Simhash keeps the equi-join — its banding yields few LARGE buckets
where a streaming join parallelizes better than giant per-bucket arrays.

All hashes are md5/hex-derived so the DuckDB oracle can reproduce them
bit-for-bit (no engine-specific hash functions in the contract surface).
The exact, ngram and minhash-LSH operators are built-in
pyspark.sql.functions only; simhash_fingerprints hashes in a Python
mapInPandas kernel over Arrow batches.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .scanspread import spread_scan as _spread

DEFAULT_SHINGLE_K = 3


def tokens_col(text: Column) -> Column:
    return F.split(text, " ")


def shingles_of_tokens(t: Column, k: int = DEFAULT_SHINGLE_K) -> Column:
    """Word k-gram shingles over an ALREADY-BOUND token-array column.

    Callers must bind the token array to a real column (one `.select`
    below) rather than passing `tokens_col(text)` inline: the lambda body
    references `t` once per element_at, and higher-order functions are
    CodegenFallback — an inline `split(text)` is re-evaluated on every
    element access, turning shingling into O(tokens^2) splits per document
    (measured: the bound form cut ngram/minhash shingling ~3x at sf0.1).
    A bound column reference is O(1) per access, and CollapseProject keeps
    the producing Project separate because the alias is non-cheap and
    referenced more than once."""
    joined = F.transform(
        F.sequence(F.lit(1), F.size(t) - (k - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(t, i + j) for j in range(k)]),
    )
    return F.when(F.size(t) >= k, joined).otherwise(F.array(F.concat_ws(" ", t)))


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: groups of identical texts (md5 fingerprint hash-groupBy).
    Returns (fp, n_docs, min_doc_id) for groups with n_docs > 1."""
    return (
        _spread(df).select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def _pairs_from_sorted(docs: Column, make) -> Column:
    """All (a < b) pairs from a sorted posting-list array, generated inside
    whole-stage codegen (flatten/transform/slice — no self-join). `make(x, y)`
    builds the output struct for one pair. Emits n*(n-1)/2 rows per bucket —
    half the a<b-filtered equi-join's n*(n-1) — and needs no join exchange:
    the bucket groupBy's single shuffle replaces count-groupBy + semi-join +
    self-join on the same key."""
    return F.flatten(
        F.transform(
            docs,
            lambda x, i: F.transform(F.slice(docs, i + 2, F.size(docs)), lambda y: make(x, y)),
        )
    )


def df_window_pairs(
    ex: DataFrame, key_col: str, min_common: int, max_df: int
) -> DataFrame:
    """Bounded candidate-pair generation from an exploded (doc_id, key)
    table — the shared tail of the ngram and winnowing pair operators.
    Returns (doc_a, doc_b, n_common), doc_a < doc_b.

    PRECONDITION: (doc_id, key) rows must be DISTINCT. The count pass
    measures document frequency, the posting lists assume one entry per
    doc, and _pairs_from_sorted emits self-pairs from repeated ids — a
    duplicate-carrying caller gets inflated n_common and (a, a) rows.
    Dedup at the cheapest point for the shape: array_distinct before the
    explode (ngram), .distinct() on the fingerprint table (winnow);
    deduping HERE would force an extra exchange on callers that are
    already distinct by construction.

    Frequency pruning, both ends (the bounded-fan-out guarantee at corpus
    scale): a key held by a single doc can't form a pair (the low cut is
    result-identical), and a key held by more than max_df docs is a
    stop-key — a single key in 10^6 docs would emit ~10^12 join pairs, so
    fan-out must be capped at max_df^2 per key. The high cut is a
    SEMANTIC parameter, not just pruning: dropped stop-keys no longer
    count toward n_common for ANY pair, so a pair sharing rare + stop
    keys reports a lower n_common and may fall under min_common. The
    ngram contract oracle in __spark_entry__ applies the SAME df window,
    so parity is exact by construction at every df distribution.
    The df gate runs as a count window over the key BEFORE the
    posting-list aggregation (same construction as lsh_candidate_pairs):
    the exploded table is computed and exchanged exactly ONCE — window
    and collect groupBy share the one hash partitioning on the key — and
    no stop-key's full doc list is ever materialized (the filter sits
    between the count and the collect). The previous count-groupBy +
    semi-join shape re-computed the upstream explode (and its shingle
    expressions) for the count pass: two full scans + two Generates per
    call (measured 1.4s -> 1.0s settled and 3.8s -> 1.7s first-run on
    ngram_overlap_pairs at sf0.1/local[32])."""
    wcount = Window.partitionBy(key_col)
    gated = ex.withColumn("__n", F.count("*").over(wcount)).filter(
        (F.col("__n") >= 2) & (F.col("__n") <= max_df)
    )
    posts = gated.groupBy(key_col).agg(
        F.array_sort(F.collect_list("doc_id")).alias("docs")
    )
    pair = lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b"))  # noqa: E731
    return (
        posts.select(F.explode(_pairs_from_sorted(F.col("docs"), pair)).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )


def ngram_overlap_pairs(
    df: DataFrame,
    min_common: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_SHINGLE_K,
    max_df: int = 64,
) -> DataFrame:
    """Near-dup candidate pairs sharing >= min_common distinct k-shingles.
    One explode + the shared df-window posting-list tail (no self-join);
    observed max shingle df at test scales: 7 @sf0.01, 25 @sf0.1 — well
    under the default 64."""
    toks = _spread(df).select(
        F.col(id_col).alias("doc_id"), tokens_col(F.col(text_col)).alias("__toks")
    )
    ex = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(shingles_of_tokens(F.col("__toks"), k))
        ).alias("sh"),
    )
    return df_window_pairs(ex, "sh", min_common, max_df)


def minhash_signatures(
    df: DataFrame,
    n_bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_SHINGLE_K,
) -> DataFrame:
    """(doc_id, band, minhash): per band b, min over shingles of
    md5(shingle || '#b'). Lexicographic min over hex == numeric min over the
    corresponding 128-bit value, and is oracle-reproducible.

    The per-band minimum is a per-DOCUMENT reduction, so it runs as an
    array_min over the row's own shingle array — a pure projection, no
    explode, no exchange, no aggregate. (The former explode + groupBy
    planned as a SortAggregate: min over a var-length string has no
    fixed-size agg buffer, so every signature paid two sorts of the
    exploded shingle table. The md5 count per doc is unchanged.) The
    isNotNull filter mirrors the explode path's null-text drop."""
    base = (
        _spread(df)
        .filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc_id"),
            tokens_col(F.col(text_col)).alias("__toks"),
        )
        .select(
            "doc_id",
            F.array_distinct(shingles_of_tokens(F.col("__toks"), k)).alias("__shs"),
        )
    )
    def _band_min(b: int):
        # closure factory: PySpark's higher-order-function builder passes a
        # positional index arg to multi-parameter lambdas, so a `b=b`
        # default would be overwritten by the index column
        return F.array_min(
            F.transform(F.col("__shs"), lambda s: F.md5(F.concat(s, F.lit(f"#{b}"))))
        ).alias(f"b{b}")

    wide = base.select("doc_id", *[_band_min(b) for b in range(n_bands)])
    stack = ", ".join(f"{b}, b{b}" for b in range(n_bands))
    return wide.selectExpr("doc_id", f"stack({n_bands}, {stack}) as (band, minhash)")


def lsh_candidate_pairs(
    signatures: DataFrame, max_bucket: int | None = None
) -> DataFrame:
    """Distinct doc pairs colliding in at least one (band, minhash) bucket.
    One groupBy on the bucket key builds the (sorted) posting list; pairs are
    generated JVM-side from it, so the only exchanges are the bucket groupBy
    and the final distinct — no self-join. A bucket of n docs stores n ids
    and emits n*(n-1)/2 pairs, which is inherent to LSH candidate
    generation; `max_bucket` drops over-dense buckets outright (a bucket
    that dense is a dup CLUSTER better handled by exact dedup than by its
    n^2 pairs — set it at production scale). Singleton and over-dense
    buckets are gated by a window count BEFORE the posting-list
    aggregation — same exchange, but the collect_list map never
    materializes a list the gate would throw away (the session's raised
    object-hash fallback threshold relies on fat-value aggregations
    bounding per-key state up front; window buffers spill)."""
    from pyspark.sql import Window

    wcount = Window.partitionBy("band", "minhash")
    gated = signatures.withColumn("__n", F.count("*").over(wcount)).filter(
        (F.col("__n") >= 2)
        & ((F.lit(max_bucket).isNull()) | (F.col("__n") <= F.lit(max_bucket)))
    )
    posts = gated.groupBy("band", "minhash").agg(
        F.array_sort(F.collect_list("doc_id")).alias("docs")
    )
    pair = lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b"))  # noqa: E731
    return (
        posts.select(F.explode(_pairs_from_sorted(F.col("docs"), pair)).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def simhash_fingerprints(
    df: DataFrame, bits: int = 16, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, simhash): sign-aggregate each of `bits` hash bits over the
    document's distinct tokens. Zero exchanges (mapInPandas over the
    spread scan); null-text rows are dropped, mirroring the original
    explode path.

    Vectorized Python kernel (guide §4.2): per document, one hashlib md5
    per distinct token and a single numpy broadcast popcount matrix for
    all `bits` sign sums. `int.from_bytes(digest[:8]) >> 4` is the first
    60 bits of the digest — value-identical to the oracle's
    ('0x' || substr(md5, 1, 15))::BIGINT. Sign rule unchanged: bit b set
    iff s_b > 0, i.e. 2*ones_b > n; ties (s_b == 0) give 0.

    Measured at sf0.1/local[32], same-session alternating A/B vs the
    per-bit JVM F.aggregate chain: 0.42s vs 0.64s warm (the 16 interpreted
    HOF passes over the hash array cost more than the whole Arrow round
    trip); a packed-lane JVM variant (4 ones-counters per long) was slower
    still (0.70s). Values asserted equal on the full sf0.1 corpus."""

    def run(it):
        import hashlib

        w = np.arange(bits, dtype=np.int64)
        md5 = hashlib.md5
        for pdf in it:
            if pdf.empty:
                continue
            out_ids, out_fp = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = dict.fromkeys(text.split(" "))  # distinct, order-free
                hs = np.fromiter(
                    (
                        int.from_bytes(md5(t.encode()).digest()[:8], "big") >> 4
                        for t in toks
                    ),
                    dtype=np.int64,
                    count=len(toks),
                )
                ones = ((hs[:, None] >> w) & 1).sum(0)
                s = 2 * ones - len(hs)
                out_ids.append(doc_id)
                out_fp.append(int(((s > 0) << w).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": np.asarray(out_ids, dtype=np.int64),
                    "simhash": np.asarray(out_fp, dtype=np.int64),
                }
            )

    return (
        _spread(df)
        .select(F.col(id_col).alias(id_col), F.col(text_col).alias(text_col))
        .mapInPandas(run, "doc_id long, simhash long")
    )


def simhash_near_pairs(
    fingerprints: DataFrame, max_hamming: int, bits: int = 16
) -> DataFrame:
    """Pairs within hamming distance, via pigeonhole banding: split the
    fingerprint into max_hamming+1 bit-bands — two fingerprints within
    hamming h MUST agree exactly on at least one band — equi-join on
    (band, band_value), verify the true hamming, distinct. Result-identical
    to the all-pairs compare but LSH-shaped: no cartesian/theta join, fan-out
    bounded by band-bucket sizes (plus singleton-bucket pruning)."""
    nb = max_hamming + 1
    sizes = [bits // nb + (1 if i < bits % nb else 0) for i in range(nb)]
    offs = [sum(sizes[:i]) for i in range(nb)]
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(F.col("simhash"), offs[i])
                .bitwiseAND(F.lit((1 << sizes[i]) - 1))
                .alias("val"),
            )
            for i in range(nb)
        ]
    )
    ex = fingerprints.select(
        "doc_id", "simhash", F.explode(bands).alias("b")
    ).select("doc_id", "simhash", F.col("b.band").alias("band"), F.col("b.val").alias("val"))
    # Unlike ngram/LSH, simhash banding has FEW, LARGE buckets (at most
    # nb * 2^(bits/nb) keys), so a posting-list aggregation would build giant
    # per-bucket arrays on a handful of tasks; the streaming equi-join
    # parallelizes the n^2-per-bucket candidate verification instead
    # (measured: join 10.6s vs posting-list 12-19s at sf0.1).
    shared = (
        ex.groupBy("band", "val").agg(F.count("*").alias("__n")).filter(F.col("__n") >= 2)
    )
    ex = ex.join(shared.select("band", "val"), ["band", "val"], "left_semi")
    a, b = ex.alias("a"), ex.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
