"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference surface (BASELINE.json north star): exact dedup,
word-shingle n-gram Jaccard near-dup, MinHash+LSH, and SimHash.  All are
pure DataFrame pipelines — hashing and banding happen JVM-side with
`xxhash64` / `bit_count`, never in Python, and candidate generation is a
shuffle on (band, hash) buckets rather than an O(n²) cross join, which is
what makes MinHash/SimHash the 100 TB path while `ngram_jaccard_pairs`
(exact, self-join on shared shingles) is the small/medium-corpus oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from real_time_big_data_iot_monitoring_pipeline_spark.functions.scalars import round_det
from real_time_big_data_iot_monitoring_pipeline_spark.operators.partitioning import ensure_min_parallelism


def exact_dedup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level exact-duplicate statistics: one hash aggregation."""
    per_text = df.groupBy(text_col).agg(F.count(F.lit(1)).alias("copies"))
    return per_text.agg(
        F.sum("copies").alias("n_rows"),
        F.count(F.lit(1)).alias("n_distinct"),
        (F.sum("copies") - F.count(F.lit(1))).alias("n_dup_rows"),
    )


def canonicalize(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup keeping the smallest id per text — deterministic,
    unlike `dropDuplicates` whose survivor depends on partitioning."""
    return df.groupBy(text_col).agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("copies"))


def word_shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3) -> DataFrame:
    """Distinct k-word shingles per document: (id, shingle) rows.

    Built with `split` + `transform(sequence(...))` — array ops inside
    codegen, no Python.  Set semantics (Jaccard is over sets) come from
    `array_distinct` BEFORE the explode: per-document dedup is a map-side
    array op, so no shuffle — a global `.distinct()` after explode would
    shuffle every (doc, shingle) pair for the same result.
    """
    toks = F.split(F.col(text_col), " ")
    parts = ", ".join(f"toks[i + {j}]" for j in range(k))
    shingle_arr = F.expr(
        f"array_distinct(transform(sequence(0, size(toks) - {k}), i -> concat_ws(' ', {parts})))"
    )
    # the shingle transform + explode is the expensive map of every dedup
    # pipeline; never let a single-row-group scan serialize it
    df = ensure_min_parallelism(df.select(id_col, text_col))
    return (
        df.select(F.col(id_col), toks.alias("toks"))
        .filter(F.size("toks") >= k)
        .select(id_col, F.explode(shingle_arr).alias("shingle"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs.

    Candidates = pairs sharing >=1 shingle (equi-self-join on the shingle —
    a key shuffle, not a cross join); Jaccard = |A∩B| / (|A|+|B|-|A∩B|).
    Exact and SQL-expressible (the DuckDB oracle mirrors it), at the cost
    of candidate blowup on hot shingles — at 100 TB use
    `minhash_near_dups` below, which bounds work via banding.
    """
    # Join on xxhash64(shingle), not the shingle string: the self-join
    # shuffles one long per row instead of a k-word string (~25% faster at
    # sf0.1, and the byte savings grow with shingle width at scale).  A
    # 64-bit collision could over-count `inter`; at 2^32 distinct shingles
    # the chance is ~0.4 — but per PAIR it needs two docs sharing a
    # colliding shingle value, which stays negligible at any corpus size
    # that fits this exact-Jaccard path (the scale path is MinHash below).
    sh = (
        word_shingles(df, id_col, text_col, k)
        .select(id_col, F.xxhash64("shingle").alias("sh"))
        .cache()
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("sz", "sz_a")
    sb = sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("sz", "sz_b")
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", round_det(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """MinHash signature per document as ONE array column:
    sig[i] = min over shingles of xxhash64(shingle, i).

    Per-shingle the `num_hashes` seeded hashes are `num_hashes` flat
    codegen expressions (`xxhash64(shingle, s)`), and the per-document
    element-wise mins are `num_hashes` min-aggregates over ONE hash
    aggregation keyed on the document id, packed into a single array
    column on output.  This deliberately avoids BOTH slow shapes
    measured on the bench: higher-order array lambdas (interpreted, no
    whole-stage codegen — ~9x slower) and the seed-exploded row fan-out
    (explode x num_hashes multiplies the rows entering the aggregation
    hash map by num_hashes and needs a SECOND shuffle to re-pack the
    (doc, seed) partial mins into the signature array — measured 0.82 s
    -> 0.62 s at sf0.1 when the explode+double-agg was replaced by this
    single wide aggregation; round-12 optimization).  Partial (map-side)
    aggregation still applies — the shuffle carries one num_hashes-wide
    partial row per (document x map partition), and downstream operators
    see a single narrow array column instead of 64 named columns (which
    measurably bloated codegen/planning on the bench)."""
    sh = word_shingles(df, id_col, text_col, k)
    mins = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(s))).alias(f"_m{s}")
        for s in range(num_hashes)
    ]
    return (
        sh.groupBy(id_col)
        .agg(*mins)
        .select(id_col, F.array(*[F.col(f"_m{s}") for s in range(num_hashes)]).alias("sig"))
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs — the scale path.

    Signatures are banded (`bands` bands of `num_hashes/bands` rows); a
    pair collides if any band hashes equal, so candidate generation is an
    equi-join on (band_idx, band_hash) — work proportional to true
    near-dups, not n².  Estimated Jaccard = fraction of matching signature
    positions; pairs below `threshold` are dropped.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, k, num_hashes).cache()
    band_key = F.expr(
        f"transform(sequence(0, {bands - 1}),"
        f" b -> struct(b AS band, xxhash64(concat_ws(',', slice(sig, b * {rows_per_band} + 1, {rows_per_band}))) AS bh))"
    )
    banded = sig.select(id_col, F.explode(band_key).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh")
    )
    a = banded.alias("a")
    b_ = banded.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    sa = sig.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", (matches / F.lit(float(num_hashes))).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


_SIMHASH_LANE_BITS = 21  # 3 lanes per long; caps docs at 2^21-1 tokens (~8 MB text)
_SIMHASH_LANES_PER_LONG = 3


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash fingerprint per document.

    Token hash bits vote +1/-1 per position; the fingerprint takes the
    sign.  The 64 per-bit vote counters are PACKED into 21-bit lanes,
    three per long: per token row, bit i of the hash lands as a 0/1 in
    lane (i mod 3) of long (i div 3), so the groupBy aggregates 22 long
    sums + one count instead of 64 separate conditional sums.  Partial
    (map-side) aggregation rows shrink ~3x and the per-group state is 23
    buffers, not 65 — the property that matters when the corpus has 10^9
    documents in flight per executor.  Sign reconstruction: bit set iff
    2 * ones_i > n_tokens (ones_i extracted by shift + mask).  Lanes
    overflow only past 2^21-1 tokens in one document (~8 MB of text),
    documented as the operator's input bound.
    """
    toks = (
        ensure_min_parallelism(df.select(id_col, text_col))
        .select(id_col, F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .filter(F.length("tok") > 0)
    )
    h = F.xxhash64("tok")
    n_longs = (64 + _SIMHASH_LANES_PER_LONG - 1) // _SIMHASH_LANES_PER_LONG
    lanes = []
    for j in range(n_longs):
        e = None
        for l in range(_SIMHASH_LANES_PER_LONG):
            i = _SIMHASH_LANES_PER_LONG * j + l
            if i >= 64:
                break
            bit = F.shiftright(h, i).bitwiseAND(F.lit(1))
            t = F.shiftleft(bit, _SIMHASH_LANE_BITS * l)
            e = t if e is None else e + t
        lanes.append(F.sum(e).alias(f"L{j}"))
    votes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"), *lanes)
    mask = (1 << _SIMHASH_LANE_BITS) - 1
    fingerprint = None
    for j in range(n_longs):
        for l in range(_SIMHASH_LANES_PER_LONG):
            i = _SIMHASH_LANES_PER_LONG * j + l
            if i >= 64:
                break
            ones = F.shiftright(F.col(f"L{j}"), _SIMHASH_LANE_BITS * l).bitwiseAND(F.lit(mask))
            b = (
                F.when(ones * 2 > F.col("n"), F.lit(2**i if i < 63 else -(2**63)).cast("long"))
                .otherwise(F.lit(0).cast("long"))
            )
            fingerprint = b if fingerprint is None else fingerprint + b
    return votes.select(id_col, fingerprint.alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance <= max_hamming.

    Pigeonhole banding: split the 64-bit fingerprint into max_hamming+1
    chunks; any pair within the distance budget must agree on >=1 chunk,
    so candidates come from an equi-join on (chunk_idx, chunk_value) and
    the exact Hamming check (`bit_count(a XOR b)`) runs only on those.
    """
    nb = max_hamming + 1
    width = 64 // nb
    sig = simhash(df, id_col, text_col).cache()
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("simhash"), c * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("cv"),
            )
            for c in range(nb)
        ]
    )
    banded = sig.select(id_col, "simhash", F.explode(chunks).alias("ck")).select(
        id_col, "simhash", F.col("ck.chunk").alias("chunk"), F.col("ck.cv").alias("cv")
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        # filter BEFORE distinct: the Hamming cut rejects most candidate
        # pairs, so the dedup shuffle only carries true near-dups (a pair
        # passes or fails identically from every chunk it collides in)
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --- portable-hash variants (oracle-checkable) ------------------------------
# xxhash64 has no SQL twin, so the fast MinHash above takes a rows-only
# check.  These variants swap in an engine-portable polynomial hash
# (char-level rolling hash mod 2^31-1, seeded affine family) that DuckDB
# can reproduce exactly — the entire LSH pipeline becomes value-hash
# verifiable.  Slower than xxhash64 (per-char fold) but bit-identical
# across engines; use the xxhash64 path at scale.

PORTABLE_P = 2147483647  # 2^31 - 1


def _portable_hash_expr(col):
    """H(s) = fold(7, chars: a*131 + ascii(c) mod p) — same fold the
    oracle writes with list_reduce.  Interpreted per-char lambda; kept as
    the expression twin of `_portable_hash` (equivalence-tested)."""
    chars = F.split(col, "")
    vals = F.transform(chars, lambda c: F.ascii(c).cast("long"))
    return F.aggregate(
        vals,
        F.lit(7).cast("long"),
        lambda a, b: (a * 131 + b) % PORTABLE_P,
    )


@pandas_udf(LongType())
def _portable_hash_arrow(s: pd.Series) -> pd.Series:
    """Arrow-batched portable hash: identical fold, vectorized across the
    batch — one numpy pass per character POSITION instead of an
    interpreted JVM lambda per character.  Exact int64 arithmetic
    ((p-1)*131 + 255 < 2^63), so it equals `_portable_hash_expr`
    bit-for-bit; the round-1 perf audit measured this interpreted-fold
    shape as the repo's slowest query (6.7 s at sf0.1)."""
    import numpy as np

    arrs = [np.frombuffer(x.encode("utf-8"), dtype=np.uint8) for x in s.to_numpy()]
    n = len(arrs)
    maxlen = max((len(a) for a in arrs), default=0)
    chars = np.zeros((n, maxlen), dtype=np.int64)
    lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=n)
    for i, a in enumerate(arrs):
        chars[i, : len(a)] = a
    acc = np.full(n, 7, dtype=np.int64)
    for j in range(maxlen):
        live = lens > j
        acc[live] = (acc[live] * 131 + chars[live, j]) % PORTABLE_P
    return pd.Series(acc)


def _portable_hash(col):
    return _portable_hash_arrow(col)


def minhash_signatures_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """(id, sig) with the portable hash family
    h_i(s) = ((2i+1)*H(s) + 1000003*i) mod p — every stage reproducible
    in ANSI SQL.  The base hash H(s) crosses the Arrow boundary ONCE per
    shingle; the seed fan-out is `num_hashes` flat affine expressions
    feeding `num_hashes` min-aggregates in ONE doc-keyed aggregation
    (not an array transform — higher-order array lambdas run interpreted
    and measured ~9x slower; not exploded rows either — the explode
    multiplied aggregation-input rows by num_hashes and required a
    second shuffle to re-pack the (doc, seed) mins; round-12
    optimization, same rewrite as `minhash_signatures`)."""
    sh = word_shingles(df, id_col, text_col, k)
    hh = sh.select(id_col, _portable_hash(F.col("shingle")).alias("h"))
    mins = [
        F.min(((2 * s + 1) * F.col("h") + 1000003 * s) % PORTABLE_P).alias(f"_m{s}")
        for s in range(num_hashes)
    ]
    return (
        hh.groupBy(id_col)
        .agg(*mins)
        .select(id_col, F.array(*[F.col(f"_m{s}") for s in range(num_hashes)]).alias("sig"))
    )


def _band_signatures(sig: DataFrame, id_col: str, bands: int) -> DataFrame:
    """(id, sig, band, bh) — one row per (doc, band) with the 2-row band
    key rendered as a string (replayable in ANSI SQL)."""
    band_key = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band"),
                F.concat_ws(
                    ",",
                    F.element_at(F.col("sig"), 2 * b + 1).cast("string"),
                    F.element_at(F.col("sig"), 2 * b + 2).cast("string"),
                ).alias("bh"),
            ),
        )
    )
    return sig.select(id_col, "sig", band_key.alias("bk")).select(
        id_col, "sig", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh")
    )


def minhash_near_dups_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.2,
) -> DataFrame:
    """MinHash+LSH with the portable hash family — every stage
    reproducible in ANSI SQL, so the driver value-hash-checks the whole
    pipeline.  Same plan shape as `minhash_near_dups`: map-side shingle
    sets, one signature row per doc, band equi-join candidates."""
    rows_per_band = num_hashes // bands
    assert rows_per_band == 2, "band key below is written for 2-row bands"
    sig = minhash_signatures_portable(df, id_col, text_col, k, num_hashes).cache()
    banded = _band_signatures(sig, id_col, bands)
    a, b_ = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    matches = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
    return (
        cand.select("id_a", "id_b", (matches / F.lit(float(num_hashes))).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def minhash_incremental_portable(
    new_docs: DataFrame,
    store_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.2,
) -> DataFrame:
    """Incremental near-dup check: signatures for the NEW batch only,
    banded and joined against an EXISTING signature store — the shape a
    production pipeline runs on every ingest increment (the corpus is
    never re-shingled; the store is the persisted output of
    `minhash_signatures_portable`).  Candidate volume is
    |new batch| x (collision rate), independent of corpus size; at
    100 TB the store-side band join is an equi-join on (band, bh) that
    the store can be pre-bucketed on, so only the matching band buckets
    are ever read.  Output: (new_id, dup_of, est_jaccard) — new docs
    whose estimated Jaccard vs some stored doc clears the threshold."""
    rows_per_band = num_hashes // bands
    assert rows_per_band == 2, "band key is written for 2-row bands"
    new_sig = minhash_signatures_portable(new_docs, id_col, text_col, k, num_hashes)
    nb = _band_signatures(new_sig, id_col, bands).alias("n")
    sb = _band_signatures(store_sigs, id_col, bands).alias("s")
    cand = (
        nb.join(sb, (F.col("n.band") == F.col("s.band")) & (F.col("n.bh") == F.col("s.bh")))
        .select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"s.{id_col}").alias("dup_of"),
            F.col("n.sig").alias("sig_a"),
            F.col("s.sig").alias("sig_b"),
        )
        .distinct()
    )
    matches = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
    return (
        cand.select("new_id", "dup_of", (matches / F.lit(float(num_hashes))).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def simhash_portable(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """32-bit SimHash over the portable token hash: bit b of H(token)
    votes +1/-1; fingerprint takes the sign — reproducible in SQL
    (integer div/mod bit extraction), so oracle-checkable."""
    toks = (
        ensure_min_parallelism(df.select(id_col, text_col))
        .select(id_col, F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .filter(F.length("tok") > 0)
    )
    votes = (
        toks.withColumn("ph", _portable_hash(F.col("tok")))
        .groupBy(id_col)
        .agg(
            *[
                F.sum(
                    F.when(F.expr(f"(ph DIV {2**i}) % 2") == 1, F.lit(1)).otherwise(F.lit(-1))
                ).alias(f"v{i}")
                for i in range(31)
            ]
        )
    )
    fingerprint = sum(
        F.when(F.col(f"v{i}") > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long"))
        for i in range(31)
    )
    return votes.select(id_col, fingerprint.alias("simhash32"))


def duplicate_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over near-duplicate pairs: every document in
    a pair gets the MINIMUM doc id of its component as `component_id` —
    the canonical-survivor labeling a dedup pipeline keeps one doc per
    cluster with.

    Pregel-style min-label propagation with POINTER JUMPING: each round
    every node takes min(own label, neighbors' labels) and then contracts
    through its label's own label (label <- label[label]) — the classic
    doubling step, so the propagation distance doubles per round and
    convergence needs O(log diameter) rounds, not O(diameter).  (The
    1-hop-only variant silently fragmented a 24-hop chain at the default
    iteration cap — PERF.md, "Scale probe — duplicate components".)  Each
    round is two joins + one hash agg on the node key; the driver sees
    only a per-round scalar convergence count (no row collect), the
    standard driver-coordinated iterative-algorithm shape (same contract
    as `similarity.kmeans_refine`).  Raises RuntimeError instead of
    returning a half-closed labeling if `max_iters` is ever exhausted —
    no silent caps.

    Output: (doc_id, component_id, component_size), one row per node that
    appears in at least one pair.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .cache()
    )
    # Lineage MUST be truncated every round (localCheckpoint): without it
    # each iteration's plan embeds all previous joins and the
    # optimizer/codegen cost grows exponentially with the diameter — a
    # 12-hop chain OOMs the driver on plan bloat alone.  On a cluster,
    # point `spark.sparkContext.setCheckpointDir` at durable storage and
    # swap in `.checkpoint()` for executor-loss tolerance.
    #
    # Round-13 (guide §2.4/§5, round-12 verdict next-round #4): the
    # PER-ROUND checkpoints are LAZY (eager=False) so the materialization
    # rides the round's convergence count — ONE job per round (compute +
    # checkpoint + count in the same action) instead of two (eager
    # materialize, then count).  Per-round driver round-trips halve; the
    # pointer-jumping algebra and the per-round plans are unchanged.  The
    # INITIAL labels stay eager: round 1 reads them in two branches of
    # one job, and a lazy checkpoint would compute the distinct twice.
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        hop = labels.join(nbr_min, labels.node == nbr_min.src, "left").select(
            "node",
            F.col("label").alias("old_label"),
            F.least("label", "nbr_label").alias("label"),
        )
        # pointer jump: follow the label's own label (labels are node ids
        # of the same component, so the lookup side is always present) —
        # doubles the effective propagation distance each round
        lut = hop.select(F.col("node").alias("pn"), F.col("label").alias("pl"))
        # the old label rides along so convergence is a filter-count on
        # the checkpointed frame — the LAZY checkpoint materializes
        # inside the count action itself: one job per round total
        new_labels = (
            hop.join(lut, hop.label == lut.pn, "left")
            .select(
                "node",
                "old_label",
                F.least("label", F.coalesce("pl", "label")).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("label") != F.col("old_label")).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"duplicate_components: no fixpoint after {max_iters} rounds "
            f"(graph diameter > 2^{max_iters}); raise max_iters"
        )
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("component_size"))
    out = labels.join(sizes, "label").select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("component_id"),
        "component_size",
    )
    edges.unpersist()
    return out


def exact_substring_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    hash_grams: bool = False,
) -> DataFrame:
    """Span-level exact-duplicate profile (ExactSubstr-lite): for every
    document, how many of its length-``n`` token windows also occur in at
    least one OTHER document.  This is the per-span view the doc-level
    families (Jaccard / MinHash / SimHash) cannot give — the signal used
    to CUT duplicated spans out of training text rather than drop whole
    documents (Lee et al., "Deduplicating Training Data Makes Language
    Models Better", 2022; suffix-array ExactSubstr).

    Plan shape, and why it holds at 100 TB: the rolling windows are a
    map-side array transform (`transform(sequence(...))` + explode — no
    Python, no shuffle); the only shuffle is the groupBy on the window
    key, exactly one row per token position.  Here the key is the gram
    STRING so the DuckDB oracle can replay it; the at-scale swap is
    `xxhash64(gram)` — same plan, 8-byte keys — which is the standard
    fingerprint compromise vs. the true suffix-array approach (a
    suffix array is not expressible as a dataflow; rolling fingerprints
    over-approximate it within hash-collision probability).  Documents
    with fewer than ``n`` tokens carry no window and are excluded (also
    guards `sequence()`'s descending-range surprise when size < n).

    Returns (id, n_spans, n_dup_spans, dup_span_share).
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda t: F.length(t) > 0)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - (n - 1)),
        lambda i: F.array_join(F.slice(F.col("toks"), i, n), " "),
    )
    df = ensure_min_parallelism(df.select(id_col, text_col))
    g = (
        df.select(F.col(id_col), toks.alias("toks"))
        .filter(F.size("toks") >= n)
        .select(id_col, F.explode(grams).alias("gram"))
    )
    if hash_grams:
        # the at-scale key swap: 8-byte fingerprints instead of n-word
        # strings through the shuffle (same plan; collision probability
        # ~ windows^2 / 2^64).  The catalog query keeps the string key
        # so the DuckDB oracle replays it; the probe measures this path.
        g = g.select(id_col, F.xxhash64("gram").alias("gram"))
    # cross-document duplicated window keys; one count-distinct agg
    dup = (
        g.groupBy("gram")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("gram")
    )
    totals = g.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_spans"))
    dup_counts = g.join(dup, "gram").groupBy(id_col).agg(F.count(F.lit(1)).alias("n_dup_spans"))
    return (
        totals.join(dup_counts, id_col, "left")
        .select(
            id_col,
            "n_spans",
            F.coalesce(F.col("n_dup_spans"), F.lit(0)).alias("n_dup_spans"),
            round_det(
                F.coalesce(F.col("n_dup_spans"), F.lit(0)) / F.col("n_spans"), 6
            ).alias("dup_span_share"),
        )
    )


def cut_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """APPLY span-level dedup: remove every length-``n`` token window
    that duplicates an earlier occurrence (corpus-wide), keeping the
    single canonical (smallest (doc, position)) copy — the intervention
    ExactSubstr dedup performs on training text, where
    `exact_substring_profile` only measures.  Overlapping cut windows
    merge naturally (a token is dropped if ANY covering window is cut).

    Plan: rolling windows explode map-side; one agg keys each gram with
    its occurrence count and canonical occurrence (encoded as
    ``doc*1e6+pos`` so min() is a single long — portable to SQL);
    non-canonical occurrences of duplicated grams explode to covered
    token positions; an anti join drops covered tokens; per-doc
    reassembly is a sort_array over (pos, token) structs.  Shuffles:
    gram agg, gram join, anti join, doc agg — all keyed, no row
    explosion beyond the n-per-position cover lists.  Documents shorter
    than ``n`` tokens carry no window and pass through uncut.

    Returns (id, n_tokens, n_cut_tokens, cleaned_text).
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda t: F.length(t) > 0)
    base = ensure_min_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col), toks.alias("toks")
    )
    tok = base.select(
        id_col, F.posexplode("toks").alias("tpos0", "token")
    ).select(id_col, (F.col("tpos0") + 1).alias("tpos"), "token")
    grams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - (n - 1)),
        lambda i: F.struct(i.alias("pos"), F.array_join(F.slice(F.col("toks"), i, n), " ").alias("gram")),
    )
    g = (
        base.filter(F.size("toks") >= n)
        .select(id_col, F.explode(grams).alias("g"))
        .select(id_col, F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
    )
    occ_key = F.col(id_col) * 1_000_000 + F.col("pos")
    st = g.groupBy("gram").agg(
        F.count(F.lit(1)).alias("cnt"), F.min(occ_key).alias("canonical_key")
    )
    cut = (
        g.join(st, "gram")
        .filter((F.col("cnt") >= 2) & (occ_key != F.col("canonical_key")))
        .select(id_col, "pos")
    )
    covered = cut.select(
        id_col, F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias("tpos")
    ).distinct()
    kept = tok.join(covered, [id_col, "tpos"], "left_anti")
    totals = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_tokens"))
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("tpos", "token"))), lambda s: s["token"]
            ),
            " ",
        ).alias("cleaned_text"),
    )
    return totals.join(rebuilt, id_col, "left").select(
        id_col,
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).cast("long").alias("n_cut_tokens"),
        F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram CONTAINMENT near-dup pairs — the asymmetric metric
    Jaccard misses: containment = |A∩B| / min(|A|,|B|) is high whenever
    the SMALLER document is mostly inside the larger one (excerpts,
    quotes, partial reposts), even when the size gap crushes their
    Jaccard toward zero.  Same candidate plan as `ngram_jaccard_pairs`
    (equi-self-join on hashed shingles — a key shuffle), only the
    verification formula changes; at 100 TB the MinHash banding path
    bounds candidates the same way (containment has its own sketch —
    the bottom-k/Broder variant — same banding idea)."""
    sh = (
        word_shingles(df, id_col, text_col, k)
        .select(id_col, F.xxhash64("shingle").alias("sh"))
        .cache()
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("sz", "sz_a")
    sb = sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("sz", "sz_b")
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment",
            round_det(F.col("inter") / F.least(F.col("sz_a"), F.col("sz_b")).cast("double"), 6),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "inter", "sz_a", "sz_b", "containment")
    )
