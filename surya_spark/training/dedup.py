"""Deduplication operators over a document corpus.

All built on DataFrame ops; the only Python is an Arrow-vectorized pandas
UDF for SimHash bit-packing. Scale notes per operator inline — every join
is equi-keyed (fingerprint, band bucket, or blocking key) so the shuffles
hash-partition evenly; nothing is O(n²) globally.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import text as TX
from ..plans import caching

# words per shingle (shingle_id_rows' k)
SHINGLE_K = 3
# a minhash signature has N_HASHES components, banded into BANDS LSH
# bands of N_HASHES // BANDS rows each
N_HASHES = 64
BANDS = 16
# 31-bit Mersenne prime for the minhash linear-permutation family
# sig_i(x) = (a_i * (h(x) mod P) + b_i) mod P — products stay < 2^62 so the
# arithmetic is exact in BIGINT on both Spark and DuckDB (oracle parity)
# with no overflow even under ANSI mode.
LIN_P = 2_147_483_647
# seed of the (a_i, b_i) draws, shared with the DuckDB oracle
LIN_SEED = 20240816


def lin_coeffs(n: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the linear minhash permutations.
    Shared by the Spark implementation and the DuckDB oracle generator."""
    import random

    rng = random.Random(LIN_SEED)
    return [(rng.randrange(1, LIN_P), rng.randrange(0, LIN_P))
            for _ in range(n)]


def md5_id60(col) -> "F.Column":
    """Positive 60-bit id from the first 15 hex chars of md5 — chosen
    because DuckDB computes the identical value as
    ('0x' || substr(md5(x), 1, 15))::BIGINT, giving hash-level oracle
    parity (xxhash64 has no DuckDB equivalent)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def shingle_id_rows(docs: DataFrame, extra_cols: tuple[str, ...] = (),
                    hashed: str = "xxhash64") -> DataFrame:
    """Flat (doc_id, [extra...], s) rows of DISTINCT hashed word
    k-shingles of the `text` column, k = SHINGLE_K.

    Physical shape chosen by measurement: posexplode tokens → lead(k−1)
    window → xxhash64(tok, lead1, …) → dropDuplicates. Every step is
    whole-stage-codegen; the array-valued transform() formulation of the
    same thing evaluates interpreted and ran ~10× slower at sf0.1.
    Short docs (< k tokens) contribute one whole-text shingle.

    hashed='xxhash64' (fast JVM path, ngram_jaccard_pairs' ids, which
    no oracle reads) or 'md5' (md5_id60 of the space-joined shingle
    string — the minhash family's ids, bit-replicable by the DuckDB
    oracle).

    r7 physical cleanups, same rows out:
    * the input is spread across the cluster BEFORE the regex
      normalization (single-row-group corpus files scan as ONE task, and
      the normalize chain was measured running serially — 5.2 s of the
      family's ~15 s at sf1.0); the repartition is on doc_id so the
      shingle window reuses the same exchange;
    * short docs (< k tokens) explode their whole joined text as the one
      "token" instead of carrying the joined text ON EVERY exploded row
      (xxhash64/concat_ws skip NULL lead args, so the single-row branch
      hashes to exactly the old md5_id60(joined)/xxhash64(joined)) —
      that column was ~8× the shuffle bytes of the window exchange."""
    from ..plans import partitioning

    k = SHINGLE_K
    base = partitioning.spread_small_input(docs, "doc_id").select(
        F.col("doc_id"),
        *[F.col(c) for c in extra_cols],
        TX.tokenize_ws(TX.normalize_text(F.col("text"))).alias("toks"),
    )
    nt = F.size("toks")
    explodable = (
        F.when(nt >= k, F.col("toks"))
        .when(nt >= 1, F.array(F.array_join("toks", " ")))
        .otherwise(F.col("toks"))  # empty array → no rows, as before
    )
    ex = base.select(
        "doc_id", *extra_cols,
        nt.alias("nt"),
        F.posexplode(explodable).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", j).over(w) for j in range(1, k)]
    if hashed == "md5":
        # NULL leads (short-doc single row) vanish from concat_ws →
        # md5_id60 of the joined text, exactly the old short-doc branch
        sid = md5_id60(F.concat_ws(" ", F.col("tok"), *leads))
    else:
        sid = F.xxhash64(F.col("tok"), *leads)
    keep = (F.col("nt") < k) | (F.col("pos") <= F.col("nt") - k)
    return (
        ex.withColumn("s", sid)
        .filter(keep)
        .select("doc_id", *extra_cols, "s")
        .dropDuplicates(["doc_id", "s"])
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact near-dup via content fingerprint (md5 of normalized text):
    rank within fingerprint group; keep = rank 1. One hash-partitioned
    shuffle on the fingerprint — at 100 TB this is the cheapest possible
    dedup (no pairwise work at all)."""
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        docs.select(
            F.col("doc_id"),
            TX.fingerprint(F.col("text")).alias("fp"),
        )
        .withColumn("dup_rank", F.row_number().over(w).cast("long"))
        .withColumn("keep", F.col("dup_rank") == 1)
    )


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5,
                        df_cap: int | None = None) -> DataFrame:
    """n-gram (word k-shingle) Jaccard via an inverted index: explode
    (doc, shingle), self-join on (block = `source`, shingle), count
    co-occurrences → |A∩B|; |A∪B| = |A|+|B|−|A∩B|.

    Only pairs that SHARE a shingle are ever materialized — the
    all-pairs-within-block array-intersection variant degrades
    quadratically with block size, while this shape scales with shingle
    co-occurrence. Shingles travel as hashed 64-bit ids (shingle_id_rows);
    per-doc set sizes attach at PAIR grain after the co-occurrence
    aggregate (r7 — keeping them on the exploded rows forced an extra
    doc_id window shuffle of the whole index between the df-cap window
    and the self-join). The shuffle key is (block, shingle id), and the
    self-join reuses the df-cap window's exchange.

    df_cap bounds hot-shingle skew: a shingle present in more than df_cap
    docs within a block (a stop-shingle like "the the of") would make the
    self-join quadratic on that one key at corpus scale. With df_cap set,
    such shingles are removed from the universe BEFORE the join — both
    from the index and from the per-doc set sizes, so the result is the
    exact Jaccard over the capped shingle universe (a well-defined,
    oracle-replicable semantic, not an approximation of the uncapped one).
    Worst-case join fan-out per (block, shingle) key is then df_cap²."""
    rows = shingle_id_rows(docs, extra_cols=("source",))
    if df_cap is not None:
        wdf = Window.partitionBy("source", "s")
        rows = (
            rows.withColumn("_df", F.count(F.lit(1)).over(wdf))
            .filter(F.col("_df") <= df_cap)
            .drop("_df")
        )
    # r7 plan shape: the df window leaves the index hash-partitioned on
    # (block, s) — exactly the self-join key — so the join consumes that
    # one exchange (ReusedExchange on both sides). The pre-r7 per-doc
    # set-size WINDOW between them re-shuffled the whole index to doc_id
    # and back; set sizes now attach at PAIR grain (two small joins on an
    # aggregate ~50k-row table), the _jaccard_over_candidates shape. The
    # capped index feeds three consumers → persist (CLAUDE.md rule 2).
    ex = caching.managed(rows.withColumnRenamed("source", "block"))
    n = ex.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("n_inter"))
    )
    withn = (
        inter
        .join(n.select(F.col("doc_id").alias("doc_a"),
                       F.col("n").alias("n_a")).hint("shuffle_hash"),
              "doc_a")
        .join(n.select(F.col("doc_id").alias("doc_b"),
                       F.col("n").alias("n_b")).hint("shuffle_hash"),
              "doc_b")
    )
    union = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    jac = F.when(union > 0, F.col("n_inter") / union).otherwise(F.lit(0.0))
    return caching.own_session(withn.select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold))


def _minhash_wide(rows: DataFrame) -> DataFrame:
    """(doc_id, h0..h{n-1}) from flat md5 shingle-id rows: one groupBy
    with N_HASHES min() aggregates, sig_i = min (a_i·(s mod P) + b_i) mod
    P — one md5 per shingle plus 64 exact integer multiply-adds,
    replicable bit-for-bit by the DuckDB oracle. All JVM/codegen; the
    naive alternative (nested higher-order transforms over the shingle
    array) falls out of whole-stage codegen and runs ~50× slower —
    measured, not guessed."""
    sm = F.pmod(F.col("s"), F.lit(LIN_P))
    aggs = [
        F.min(F.pmod(F.lit(a) * sm + F.lit(b), F.lit(LIN_P))).alias(f"h{i}")
        for i, (a, b) in enumerate(lin_coeffs(N_HASHES))
    ]
    return rows.groupBy("doc_id").agg(*aggs)


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """MinHash signature array per doc: minhash_index's h0..h{n-1} as
    one `sig` array column."""
    return minhash_index(docs).select(
        "doc_id",
        F.array(*[F.col(f"h{i}") for i in range(N_HASHES)]).alias("sig"),
    )


def _jaccard_over_candidates(cand: DataFrame, rows: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate pairs WITHOUT shipping shingle arrays:
    semi-join the flat (doc_id, s) index on candidate docs, then count
    co-occurrences per pair with two equi-joins. No collect_list — a
    10⁵-shingle document contributes 10⁵ small rows to a hash shuffle
    instead of a 10⁵-element array on every candidate pair row."""
    # cand feeds THREE consumers (both docs_c branches + the inter join)
    # and r feeds FOUR (ra, rb, and n joined twice) — without persist
    # Spark re-executes the banding join per branch: measured 38 s vs ~1 s
    # on a 50-doc warmup (lineage re-execution, CLAUDE.md rule #2).
    # caching.managed registers for release on the result's first action.
    cand = caching.managed(cand)
    docs_c = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    r = caching.managed(rows.select("doc_id", "s").join(
        docs_c, "doc_id", "left_semi"))
    # set sizes only for candidate docs — counting over the full corpus
    # would shuffle every document's shingles for nothing
    n = r.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"))
    inter = (
        cand
        .join(r.select(F.col("doc_id").alias("doc_a"), "s"), "doc_a")
        .join(r.select(F.col("doc_id").alias("doc_b"), "s"), ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("double").alias("n_inter"))
    )
    out = (
        inter
        .join(n.select(F.col("doc_id").alias("doc_a"),
                       F.col("n").alias("n_a")), "doc_a")
        .join(n.select(F.col("doc_id").alias("doc_b"),
                       F.col("n").alias("n_b")), "doc_b")
    )
    union = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    jac = F.when(union > 0, F.col("n_inter") / union).otherwise(F.lit(0.0))
    return out.select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))


def minhash_lsh_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """MinHash + LSH banding: band bucket = the signature slice itself
    (comma-joined); candidates = equi-join on (band, bucket); candidates
    verified with exact shingle Jaccard via candidate-restricted
    co-occurrence counting (_jaccard_over_candidates — no shingle arrays
    ever shuffle). The shuffle key is the band bucket — uniform by
    construction — which is what makes near-dup feasible at 10^12 docs.

    Output = pairs that are LSH candidates AND whose exact Jaccard ≥
    threshold (banding recall at low thresholds is probabilistic — callers
    wanting exhaustive low-similarity pairs should use ngram_jaccard_pairs).
    Every hash (shingle id, permutations, band bucket) is the md5lin
    family the DuckDB oracle replicates (minhash_index). The default
    signature values changed from an xxhash64 family to md5lin, so
    verified pairs differ from older output only where banding recall
    does."""
    # the flat shingle index feeds BOTH the signature agg and the
    # verify joins — persist or Spark re-executes the lineage per
    # branch; released by the first action on the returned pairs
    rows = caching.managed(shingle_id_rows(docs, hashed="md5"))
    banded = _banded(_minhash_wide(rows))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    out = _jaccard_over_candidates(cand, rows).filter(
        F.col("jaccard") >= threshold
    )
    return caching.own_session(out)


_SIMHASH_OUT = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("simhash", T.LongType(), False),
])


def simhash(docs: DataFrame) -> DataFrame:
    """64-bit SimHash per document. Near-dup pairs = small Hamming
    distance; pair generation uses segment blocking (pigeonhole: dist ≤ 3
    → at least one identical 16-bit segment), see simhash_pairs.

    Each token hashes to the low 8 bytes (little-endian) of its md5 in an
    Arrow-batched numpy kernel that the DuckDB oracle replicates bit for
    bit; every token votes ±1 per bit, a bit is set iff its vote is
    strictly positive, and empty/token-less docs sign to 0. A
    non-numeric doc id raises ValueError.

    Tokens come from the SAME normalize_text universe as
    shingle_id_rows/minhash (HTML/math stripped, bullets standardized,
    whitespace collapsed, lowercased) — one documented normalization for
    every dedup operator; normalization always runs as JVM column
    expressions.

    This is the only signature path: an all-JVM xxhash64 form (posexplode
    → 64 vote aggregates) measured slower at both 54 and 900 tokens/doc
    (BENCH.md). Signatures stored by default callers of versions that
    defaulted to that form differ from these values."""
    import hashlib

    from ..plans import partitioning

    # r7: spread before the Python kernel — the md5 signature ran on the
    # corpus file's TWO scan partitions (9 s of the bench query at sf1.0
    # was this kernel on 2 of 32 workers)
    docs = partitioning.spread_small_input(docs, "doc_id").select(
        F.col("doc_id"), TX.normalize_text(F.col("text")).alias("text"))

    def run(batches):
        class TokenHash(dict):
            # token-hash memo (r7): md5 is deterministic, and corpus
            # vocabulary is tiny relative to token instances — one md5 per
            # DISTINCT token per task instead of one per occurrence.
            # Process-independent (python hash() varies by PYTHONHASHSEED
            # — never use it in a distributed job): the low 8 bytes of
            # md5, little-endian, as a signed int64.
            def __missing__(self, t: str) -> int:
                h = self[t] = int.from_bytes(
                    hashlib.md5(t.encode()).digest()[:8], "little",
                    signed=True)
                return h

        tok_hash = TokenHash().__getitem__
        for pdf in batches:
            ids, hashes = [], []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                toks = str(txt).lower().split()
                hs = np.fromiter(map(tok_hash, toks), "<i8", len(toks))
                # ones[k] = tokens with bit k set; bit k's ±1 vote is
                # 2·ones[k] − n, and the bit is set iff that is > 0
                ones = np.unpackbits(hs.view(np.uint8).reshape(-1, 8),
                                     axis=1, bitorder="little").sum(axis=0)
                sig = np.packbits(2 * ones > len(toks), bitorder="little")
                hashes.append(int(sig.view("<i8")[0]))
                try:
                    ids.append(int(did))
                except ValueError:
                    raise ValueError(
                        f"simhash: non-numeric doc id {did!r}") from None
            yield pd.DataFrame({"doc_id": ids, "simhash": hashes})

    return docs.select("doc_id", "text").mapInPandas(run, schema=_SIMHASH_OUT)


def simhash_pairs(sim: DataFrame, max_dist: int = 3) -> DataFrame:
    """Hamming-near pairs via segment blocking: explode each hash into
    max_dist+1 disjoint bit segments, equi-join on (segment_idx,
    segment_value), verify with bit_count(xor) ≤ max_dist. No cross join
    anywhere, and recall is EXACT by pigeonhole: two hashes within Hamming
    distance d differ in at most d of the d+1 segments, so at least one
    segment is identical and the pair is always a candidate.

    Blocking selectivity degrades as segments shrink (max_dist=3 → four
    16-bit segments; max_dist=16 → seventeen ~4-bit segments whose buckets
    collide massively) — large max_dist on a large corpus approaches
    all-pairs and callers should lower it or pre-block."""
    if not 1 <= max_dist <= 62:
        raise ValueError("max_dist must be in [1, 62]")
    n_seg = max_dist + 1
    bounds = [64 * i // n_seg for i in range(n_seg + 1)]
    seg_exprs = []
    for i in range(n_seg):
        start, width = bounds[i], bounds[i + 1] - bounds[i]
        mask = (1 << width) - 1
        # arithmetic shiftright fills sign bits; the width mask cuts them
        seg_exprs.append(
            F.shiftright(F.col("simhash"), start).bitwiseAND(F.lit(mask)))
    seg = sim.select(
        "doc_id", "simhash",
        F.posexplode(F.array(*seg_exprs)).alias("seg_idx", "seg_val"),
    )
    a, b = seg.alias("a"), seg.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.seg_idx") == F.col("b.seg_idx"))
            & (F.col("a.seg_val") == F.col("b.seg_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("int").alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_dist)


def _banded(wide: DataFrame) -> DataFrame:
    """(doc_id, h0..h{n-1}) → exploded (doc_id, band, bucket) rows; the
    bucket is the comma-joined signature slice (the LSH band key)."""
    rows_per_band = N_HASHES // BANDS
    band_cols = [
        F.concat_ws(",", *[
            F.col(f"h{b * rows_per_band + j}").cast("string")
            for j in range(rows_per_band)
        ])
        for b in range(BANDS)
    ]
    return wide.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band", "bucket"))


def minhash_index(docs: DataFrame) -> DataFrame:
    """The compact corpus signature index (doc_id, h0..h{n-1}) — the
    ~300 B/doc table a rolling crawl materializes ONCE and appends to;
    feed it to minhash_novelty(corpus_index=) so new batches never
    re-read or re-shingle corpus text. Streaming analog:
    streaming/ingest.stream_incremental_dedup."""
    return _minhash_wide(shingle_id_rows(docs, hashed="md5"))


def minhash_novelty(new_docs: DataFrame,
                    corpus_docs: DataFrame | None = None,
                    threshold: float = 0.5,
                    corpus_index: DataFrame | None = None) -> DataFrame:
    """INCREMENTAL dedup: flag each NEW document as novel or near-dup of
    the EXISTING corpus — the operation a rolling crawl actually runs (a
    new batch never re-pairs the whole corpus with itself).

    Shape: minhash band buckets on both sides (same hash family), new →
    corpus candidate generation as an equi-join on (band, bucket), then
    similarity estimated from SIGNATURE AGREEMENT (fraction of equal
    minhash components — the standard unbiased Jaccard estimator). The
    corpus side needs only its 64-int signature + band index, NOT its
    shingles, so at 10^12 docs the index is a compact bucketed table
    (~300 B/doc) and a new batch's cost is candidates × a 64-component
    comparison — no corpus text is ever re-read or re-shuffled.

    Returns one row per new doc: (doc_id, max_est double, is_novel).
    est values are exact multiples of 1/64 — oracle-replicable without
    tolerance. Output with threshold t: is_novel ⇔ no candidate with
    est ≥ t."""
    if (corpus_docs is None) == (corpus_index is None):
        raise ValueError("pass exactly one of corpus_docs / corpus_index")
    new_wide = caching.managed(minhash_index(new_docs))
    corp_wide = caching.managed(
        corpus_index if corpus_index is not None
        else minhash_index(corpus_docs))
    cand = (
        _banded(new_wide).alias("n")
        .join(_banded(corp_wide).alias("c")
              .hint("shuffle_hash"),
              (F.col("n.band") == F.col("c.band"))
              & (F.col("n.bucket") == F.col("c.bucket")))
        .select(F.col("n.doc_id").alias("new_id"),
                F.col("c.doc_id").alias("corp_id"))
        .distinct()
    )
    agree = sum(
        (F.col(f"a.h{i}") == F.col(f"b.h{i}")).cast("int")
        for i in range(N_HASHES)
    )
    est = (
        cand
        .join(new_wide.alias("a"),
              F.col("new_id") == F.col("a.doc_id"))
        .join(corp_wide.alias("b").hint("shuffle_hash"),
              F.col("corp_id") == F.col("b.doc_id"))
        .select("new_id",
                (agree.cast("double") / F.lit(float(N_HASHES)))
                .alias("est"))
        .groupBy("new_id")
        .agg(F.max("est").alias("max_est"))
    )
    out = (
        new_docs.select(F.col("doc_id"))
        .join(est.withColumnRenamed("new_id", "doc_id")
              .hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id",
            F.round(F.coalesce(F.col("max_est"), F.lit(0.0)), 6)
            .alias("max_est"),
            (F.coalesce(F.col("max_est"), F.lit(0.0))
             < F.lit(threshold)).alias("is_novel"),
        )
    )
    return caching.own_session(out)
