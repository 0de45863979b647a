"""Operator-level unit tests: each operator validated against an
independent Python/numpy implementation (not against DuckDB — that's
test_oracle_parity.py's job, and not against the operator itself)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from real_time_big_data_iot_monitoring_pipeline_spark.functions import scalars
from real_time_big_data_iot_monitoring_pipeline_spark.operators import (
    alerts,
    anomaly,
    dedup,
    multimodal,
    regression,
    similarity,
    text,
    windows,
)
from real_time_big_data_iot_monitoring_pipeline_spark.operators.anomaly import iqr_bounds
from real_time_big_data_iot_monitoring_pipeline_spark.operators.graph import pagerank_micro
from real_time_big_data_iot_monitoring_pipeline_spark.sources import sensors
from real_time_big_data_iot_monitoring_pipeline_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def readings(spark):
    return sensors.readings(spark, hours=6).cache()


# --- scalar library ---------------------------------------------------------
def test_clean_label(spark):
    df = spark.createDataFrame([("industrial_zone",), ("city_park",)], ["location"])
    got = [r[0] for r in df.select(scalars.clean_label("location")).collect()]
    assert got == ["Industrial Zone", "City Park"]


def test_clip_and_status(spark):
    df = spark.createDataFrame([(5.0,), (20.0,), (120.0,)], ["x"])
    clipped = [r[0] for r in df.select(scalars.clip(F.col("x"), 10, 98)).collect()]
    assert clipped == [10.0, 20.0, 98.0]
    status = [r[0] for r in df.select(scalars.status_color(F.col("x"))).collect()]
    assert status == ["blue", "green", "red"]


def test_severity(spark):
    df = spark.createDataFrame([(36.0,), (31.0,)], ["t"])
    got = [r[0] for r in df.select(scalars.severity(F.col("t"), critical_above=35.0)).collect()]
    assert got == ["critical", "warning"]


# --- IQR anomaly vs numpy ----------------------------------------------------
def test_iqr_matches_numpy(spark, readings):
    temps = np.array([r.temperature for r in readings.select("temperature").collect()])
    q1, q3 = np.percentile(temps, [25, 75])  # linear interpolation, like Spark's percentile
    lo, hi = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
    expected = int(((temps < lo) | (temps > hi)).sum())
    got = anomaly.anomalies(readings, ["temperature"]).count()
    assert got == expected
    assert got > 0  # the generator injects ~5% anomalies precisely so this fires


# --- alert engine -----------------------------------------------------------
def test_alert_engine_counts(spark, readings):
    rules = [
        alerts.AlertRule("high_temp", F.col("temperature") > 30.0, F.col("temperature") > 35.0),
        alerts.AlertRule("low_temp", F.col("temperature") < 15.0, F.col("temperature") < 10.0),
        alerts.AlertRule("high_humidity", F.col("humidity") > 80.0, F.col("humidity") > 90.0),
    ]
    out = alerts.apply_rules(readings, rules)
    rows = readings.collect()
    exp_high = sum(1 for r in rows if r.temperature > 30.0)
    exp_low = sum(1 for r in rows if r.temperature < 15.0)
    exp_hum = sum(1 for r in rows if r.humidity > 80.0)
    by_type = {r.alert_type: r.cnt for r in alerts.severity_rollup(out).groupBy("alert_type").agg(F.sum("cnt").alias("cnt")).collect()}
    assert by_type.get("high_temp", 0) == exp_high
    assert by_type.get("low_temp", 0) == exp_low
    assert by_type.get("high_humidity", 0) == exp_hum
    sev = {(r.alert_type, r.severity): r.cnt for r in alerts.severity_rollup(out).collect()}
    assert sev.get(("high_temp", "critical"), 0) == sum(1 for r in rows if r.temperature > 35.0)


# --- regression vs numpy polyfit ---------------------------------------------
def test_regression_matches_numpy(spark, readings):
    feat = windows.elapsed_seconds(readings, "location", "timestamp", out="x")
    fits = {
        r.location: r
        for r in regression.fit_per_group(feat, "location", "x", "temperature", forecast_dx=3600.0).collect()
    }
    rows = readings.select("location", "timestamp", "temperature").collect()
    by_loc: dict[str, list] = {}
    for r in rows:
        by_loc.setdefault(r.location, []).append(r)
    for loc, rs in by_loc.items():
        t0 = min(r.timestamp for r in rs)
        x = np.array([(r.timestamp - t0).total_seconds() for r in rs])
        y = np.array([r.temperature for r in rs])
        slope, intercept = np.polyfit(x, y, 1)
        r2 = np.corrcoef(x, y)[0, 1] ** 2
        f = fits[loc]
        assert f.slope == pytest.approx(slope, rel=1e-3, abs=1e-7)  # slope rounded to 8dp
        assert f.intercept == pytest.approx(intercept, rel=1e-4)
        assert f.r2 == pytest.approx(r2, rel=1e-3, abs=1e-6)
        assert f.forecast == pytest.approx(intercept + slope * (x.max() + 3600), rel=1e-3)


# --- rolling window vs pandas -----------------------------------------------
def test_rolling_avg_matches_pandas(spark, readings):
    import pandas as pd

    got = (
        windows.rolling_avg(readings, "sensor_id", ["timestamp"], "temperature")
        .filter(F.col("sensor_id") == "SENSOR_001")
        .orderBy("timestamp")
        .select("rolling_avg")
        .toPandas()["rolling_avg"]
    )
    pdf = (
        readings.filter(F.col("sensor_id") == "SENSOR_001")
        .orderBy("timestamp")
        .select("temperature")
        .toPandas()
    )
    want = pdf["temperature"].rolling(20, min_periods=1).mean().round(4)
    assert np.allclose(got.to_numpy(), want.to_numpy(), atol=1e-4)


# --- similarity vs numpy ------------------------------------------------------
def test_cosine_topk_matches_numpy(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    got = similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=5).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    q = vecs[0]
    sims = {
        vid: float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
        for vid, v in vecs.items()
        if vid != 0
    }
    want = sorted(sims.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[:5]
    assert [(r.cand_id) for r in sorted(got, key=lambda r: r.rank)] == [w[0] for w in want]
    for r in got:
        assert r.cosine == pytest.approx(sims[r.cand_id], abs=1e-5)


def test_lsh_finds_planted_neighbors(spark, sf_dir):
    """LSH recall contract on data where it is meaningful: a vector and its
    tiny perturbation (cosine ~0.9999) must land in the same hyperplane
    bucket with near-certainty and be returned as the top neighbor.
    (On uniform-random vectors the exact top-10 are near-orthogonal, so
    bucket recall is legitimately low — not a useful assertion.)"""
    import random as pyrandom

    rng = pyrandom.Random(7)
    rows = []
    for i in range(50):
        v = [rng.gauss(0, 1) for _ in range(64)]
        rows.append((2 * i, [float(x) for x in v], 0))
        rows.append((2 * i + 1, [float(x + rng.gauss(0, 0.01)) for x in v], 0))
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    emb = spark.createDataFrame(rows, schema)
    queries = emb.filter(F.col("vec_id") % 2 == 0)
    got = similarity.lsh_topk(emb, queries, dim=64, k=1, n_planes=6).collect()
    top1 = {r.query_id: r.cand_id for r in got if r.rank == 1}
    hits = sum(1 for q, c in top1.items() if c == q + 1)
    assert hits >= 45  # >=90% of planted twins found despite bucketing


def test_lsh_neardup_pairs_recall(spark):
    """The banded-LSH dup path on a corpus with re-ingested twins
    (`perturb_twins`) must recover EXACTLY the planted twin pairs at the
    catalog's 8x16 config: total recall (twin cosine ~0.9999 collides in
    some band with prob ~1-1e-8), zero extras (no natural fixture pair
    reaches 0.9 — the max is 0.48 at sf0.001), and candidates a small
    fraction of all pairs (the pruning that makes LSH the scale path for
    near-identical dedup).  Deterministic end to end."""
    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    aug = similarity.perturb_twins(emb, every=5, id_offset=10_000_000)
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in similarity.lsh_neardup_pairs(
            aug, dim=64, min_cosine=0.9, n_bands=8, n_planes=16
        ).collect()
    }
    planted = {
        (vid, vid + 10_000_000)
        for (vid,) in emb.select("vec_id").filter(F.col("vec_id") % 5 == 0).collect()
    }
    assert set(got) == planted, (
        f"twin set mismatch: missing {planted - set(got)}, extra {set(got) - planted}"
    )
    assert all(c >= 0.99 for c in got.values()), "twin cosine unexpectedly low"
    # pruning: the banded candidate join must touch far fewer pairs than n^2/2
    bands = similarity.lsh_band_buckets(
        similarity.as_double_vec(aug), "embedding", dim=64, n_bands=8, n_planes=16
    )
    n = aug.count()
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select("a.vec_id", "b.vec_id")
        .distinct()
        .count()
    )
    frac = cand / (n * (n - 1) / 2)
    assert frac < 0.10, f"candidate fraction {frac:.3f} — banding is not pruning"


def test_chunk_tokens_layout(spark):
    """Chunk manifest edge semantics: short doc -> one full-length chunk,
    exact-boundary doc -> one chunk, boundary+1 -> overlapping tail
    chunk, zero-token doc -> nothing; chunks always cover [0, n) with
    stride spacing."""
    from real_time_big_data_iot_monitoring_pipeline_spark.operators import sampling

    docs = spark.createDataFrame(
        [(1, 50), (2, 128), (3, 129), (4, 224), (5, 225), (6, 0)],
        "doc_id long, n_tok long",
    )
    rows = sampling.chunk_tokens(
        docs, tokens_col="n_tok", chunk=128, stride=96
    ).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.tok_start, r.tok_len))
    for v in by_doc.values():
        v.sort()
    assert by_doc[1] == [(0, 0, 50)]
    assert by_doc[2] == [(0, 0, 128)]
    assert by_doc[3] == [(0, 0, 128), (1, 96, 33)]
    assert by_doc[4] == [(0, 0, 128), (1, 96, 128)]
    assert by_doc[5] == [(0, 0, 128), (1, 96, 128), (2, 192, 33)]
    assert 6 not in by_doc
    # coverage: every token index < n falls in at least one chunk
    for doc, n in [(1, 50), (2, 128), (3, 129), (4, 224), (5, 225)]:
        covered = set()
        for _, s, ln in by_doc[doc]:
            covered.update(range(s, s + ln))
        assert covered == set(range(n)), f"doc {doc} coverage hole"


def test_kmeans_ivf_recall_and_objective(spark):
    """k-means-refined IVF must (a) co-assign planted twin pairs at least
    as often as the fixed-centroid quantizer and (b) not increase the
    true k-means objective (within-cluster SSE) — Lloyd monotonicity,
    robust here because centroid rounding (<=0.5 quantized units) is ~12
    orders below typical squared distances."""
    import random as pyrandom

    from pyspark.sql import types as T

    rng = pyrandom.Random(11)
    rows = []
    for i in range(60):
        v = [rng.gauss(0, 1) for _ in range(64)]
        rows.append((2 * i, [float(x) for x in v], 0))
        rows.append((2 * i + 1, [float(x + rng.gauss(0, 0.01)) for x in v], 0))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    emb = similarity.as_double_vec(spark.createDataFrame(rows, schema)).select(
        "vec_id", "embedding"
    )
    init = [(r[0], r[1]) for r in emb.filter(F.col("vec_id") < 8).collect()]
    refined = similarity.kmeans_refine(emb, init, iters=2)

    def assignments(cent, quantized):
        got = similarity.assign_nearest_centroid(emb, cent, quantized=quantized).collect()
        return {r.vec_id: r.cid for r in got}

    a_fix = assignments(init, quantized=False)
    a_km = assignments(refined, quantized=True)

    def twin_recall(a):
        return sum(1 for i in range(60) if a[2 * i] == a[2 * i + 1]) / 60

    assert twin_recall(a_km) >= twin_recall(a_fix)

    vecs = {r.vec_id: np.array(r.embedding) for r in emb.collect()}
    qv = {k: np.floor(v * 1e6 + 0.5 + 1e-8) for k, v in vecs.items()}

    def sse(cent_list, a):
        cm = {cid: np.array(cv, dtype=np.float64) for cid, cv in cent_list}
        cm = {
            cid: (cv if a is a_km else np.floor(cv * 1e6 + 0.5 + 1e-8))
            for cid, cv in cm.items()
        }
        return sum(float(np.sum((qv[i] - cm[a[i]]) ** 2)) for i in qv)

    assert sse(refined, a_km) <= sse(init, a_fix)


# --- dedup family -------------------------------------------------------------
@pytest.fixture(scope="module")
def near_dup_docs(spark):
    """Synthetic corpus with known near-dups: pairs (2i, 2i+1) share a long
    prefix; unrelated docs share nothing."""
    rows = []
    for i in range(40):
        base = " ".join(f"tok{i}w{j}" for j in range(30))
        rows.append((2 * i, base))
        rows.append((2 * i + 1, base + " extra tail words here"))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_ngram_jaccard_finds_planted_pairs(spark, near_dup_docs):
    pairs = {(r.id_a, r.id_b) for r in dedup.ngram_jaccard_pairs(near_dup_docs, threshold=0.5).collect()}
    want = {(2 * i, 2 * i + 1) for i in range(40)}
    assert pairs == want


def test_minhash_lsh_finds_planted_pairs(spark, near_dup_docs):
    got = {(r.id_a, r.id_b) for r in dedup.minhash_near_dups(near_dup_docs, threshold=0.5).collect()}
    want = {(2 * i, 2 * i + 1) for i in range(40)}
    # LSH with 16 bands of 4 at true J~0.82 has collision prob >99.9%
    assert want <= got
    assert got == want  # no false positives across unrelated vocabularies


def test_simhash_near_dups(spark, near_dup_docs):
    got = {(r.id_a, r.id_b) for r in dedup.simhash_near_dups(near_dup_docs, max_hamming=12).collect()}
    want = {(2 * i, 2 * i + 1) for i in range(40)}
    assert len(want & got) >= 30  # simhash over ~30-token docs: most planted pairs within 12 bits


def test_simhash_packed_lanes_match_python_votes(spark, near_dup_docs):
    """The lane-packed vote counters must reproduce the textbook per-bit
    SimHash exactly.  Reference fingerprints are recomputed in Python from
    the same xxhash64 token hashes Spark produced, so this pins the
    packing arithmetic (lane width, shift/mask extraction, sign rule)
    bit-for-bit."""
    from pyspark.sql import functions as F

    docs = near_dup_docs.limit(20)
    tok_hashes = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.length("tok") > 0)
        .select("doc_id", F.xxhash64("tok").alias("h"))
        .collect()
    )
    votes = {}
    for r in tok_hashes:
        v = votes.setdefault(r.doc_id, [0] * 64)
        for i in range(64):
            v[i] += 1 if (r.h >> i) & 1 else -1
    want = {}
    for doc_id, v in votes.items():
        fp = 0
        for i in range(64):
            if v[i] > 0:
                fp += 2**i if i < 63 else -(2**63)
        want[doc_id] = fp
    got = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    assert got == want


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa")], ["doc_id", "text"]
    )
    stats = dedup.exact_dedup_stats(df).collect()[0]
    assert (stats.n_rows, stats.n_distinct, stats.n_dup_rows) == (4, 2, 2)
    canon = {r.doc_id: r.copies for r in dedup.canonicalize(df).collect()}
    assert canon == {1: 3, 2: 1}


# --- text ops vs python -------------------------------------------------------
def test_token_stats_vs_python(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    got = {r.doc_id: r for r in text.token_stats(docs).collect()}
    import re

    for row in docs.collect():
        ws = row.text.split(" ")
        re_toks = re.findall(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]", row.text)
        g = got[row.doc_id]
        assert g.n_ws_tokens == len(ws)
        assert g.n_re_tokens == len(re_toks)
        assert g.n_chars_actual == len(row.text)
        assert g.avg_token_len == pytest.approx(sum(map(len, ws)) / len(ws), abs=1e-4)


def test_fingerprint_vs_python(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    got = {r.doc_id: r.fingerprint for r in text.fingerprint(docs).collect()}
    for row in docs.collect():
        fp = 0
        for w in row.text.split(" "):
            v = (ord(w[0]) if w else 0) * 31 + len(w)
            fp = (fp * 31 + v) % 1000000007
        assert got[row.doc_id] == fp


def test_lang_id_shape(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = text.lang_id(docs)
    langs = {r.lang_pred for r in out.collect()}
    assert langs <= {"en", "de", "es", "fr", "und"}


# --- multimodal ---------------------------------------------------------------
def test_multimodal_decode_vs_python(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(30)
    got = {r.doc_id: r for r in multimodal.decode_features(multimodal.attach_payload(docs)).collect()}
    for row in docs.collect():
        payload = row.text.encode("utf-8")
        checksum, total = 0, 0
        for b in payload:
            checksum = (checksum * 31 + b) % 1000000007
            total += b
        g = got[row.doc_id]
        assert g.n_bytes == len(payload)
        assert g.checksum == checksum
        assert g.feature == pytest.approx(total / len(payload), abs=1e-5)


def test_frame_sample(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(10)
    payloads = multimodal.attach_payload(docs)
    frames = multimodal.frame_sample(payloads, every=100)
    exp = {r.doc_id: len(r.text.encode()) // 100 for r in docs.collect()}
    got: dict[int, int] = {}
    for r in frames.collect():
        got[r.doc_id] = got.get(r.doc_id, 0) + 1
    for doc_id, n in exp.items():
        assert got.get(doc_id, 0) == n


# --- approx aggregates error bounds -------------------------------------------
def test_approx_vs_exact(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    exact = e.agg(
        F.countDistinct("user_id").alias("d"),
        F.expr("percentile(value, 0.5)").alias("m"),
    ).collect()[0]
    approx = e.agg(
        F.approx_count_distinct("user_id", 0.01).alias("d"),
        F.percentile_approx("value", 0.5, 10000).alias("m"),
    ).collect()[0]
    assert abs(approx.d - exact.d) <= max(1, 0.05 * exact.d)
    assert abs(approx.m - exact.m) <= 0.02 * max(1.0, abs(exact.m))


# --- Arrow kernels vs their JVM expression twins ------------------------------
def test_cosine_parts_equals_jvm_expression(spark, sf_dir):
    """The Arrow cosine kernel and the pure-expression quantized twin
    compute EXACT integer moments, so they must agree bit-for-bit."""
    emb = similarity.as_double_vec(load_table(spark, sf_dir, "embeddings")).limit(200)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = a.join(b, F.col("id_a") == F.col("id_b") - 1)
    fast = pairs.withColumn("_cp", similarity.cosine_parts(F.col("va"), F.col("vb"))).select(
        "id_a", similarity.cosine_from_parts(F.col("_cp")).alias("c")
    )
    jvm = pairs.select(
        "id_a", similarity.cosine_q6_jvm(F.col("va"), F.col("vb")).alias("c")
    )
    f = {r.id_a: r.c for r in fast.collect()}
    j = {r.id_a: r.c for r in jvm.collect()}
    assert f == j  # exact equality, not approx


def test_portable_hash_arrow_equals_expression(spark, sf_dir):
    """The vectorized Arrow portable hash must equal the interpreted
    per-char fold exactly on real corpus shingles."""
    docs = load_table(spark, sf_dir, "documents").limit(100)
    sh = dedup.word_shingles(docs, "doc_id", "text", 3)
    both = sh.select(
        "shingle",
        dedup._portable_hash_arrow(F.col("shingle")).alias("ha"),
        dedup._portable_hash_expr(F.col("shingle")).alias("he"),
    )
    assert both.filter(F.col("ha") != F.col("he")).count() == 0


def test_resize_images_shape_and_determinism(spark, sf_dir):
    """The resize stage must emit exactly w*h bytes per row with the
    target dims in typed metadata, deterministically across runs."""
    docs = load_table(spark, sf_dir, "documents").limit(50)
    payloads = multimodal.attach_payload(docs)
    out = multimodal.resize_images(payloads, width=32, height=16)
    rows = out.collect()
    assert len(rows) == 50
    for r in rows:
        assert len(r.payload) == 32 * 16
        assert r.meta.target_w == 32 and r.meta.target_h == 16
        assert r.meta.n_bytes == 32 * 16
    again = {r.doc_id: bytes(r.payload) for r in out.collect()}
    assert all(bytes(r.payload) == again[r.doc_id] for r in rows)


def test_phash_near_dups_planted(spark):
    """Planted perceptual near-duplicates: byte payloads with 1-2 flipped
    characters must surface as banded candidates with small Hamming
    distance; unrelated random-ish payloads must not pair up."""
    import random

    rng = random.Random(7)
    base = ["".join(rng.choice("abcdefgh ") for _ in range(200)) for _ in range(5)]
    rows = []
    for i, t in enumerate(base):
        rows.append((i, t))
        flipped = list(t)
        flipped[37] = "z"  # one byte changed -> one block sum nudged
        rows.append((100 + i, "".join(flipped)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    payloads = multimodal.attach_payload(df)
    pairs = {(r.id_a, r.id_b): r.hamming for r in multimodal.phash_near_dups(payloads).collect()}
    for i in range(5):
        assert (i, 100 + i) in pairs, f"planted near-dup {i} not detected"
        assert pairs[(i, 100 + i)] <= 6
    for (a, b), h in pairs.items():
        assert b - a == 100, f"unrelated pair surfaced: {(a, b)} hamming={h}"


def test_ahash_bands_match_python_reference(spark):
    """The Arrow kernel's band values equal a direct per-payload Python
    recomputation (independent of numpy vectorization details)."""
    docs = spark.createDataFrame(
        [(1, "hello world " * 20), (2, "abc"), (3, "x" * 64), (4, "s")], ["doc_id", "text"]
    )
    got = {r.doc_id: (r.b0, r.b1, r.b2, r.b3) for r in
           multimodal.ahash_bands(multimodal.attach_payload(docs)).collect()}
    for doc_id, text in [(1, "hello world " * 20), (2, "abc"), (3, "x" * 64), (4, "s")]:
        data = text.encode()
        n, total = len(data), sum(data)
        bits = []
        for i in range(64):
            s, e = (i * n) // 64, ((i + 1) * n) // 64
            bs = sum(data[s:e])
            bits.append(1 if bs * n > total * (e - s) else 0)
        want = tuple(sum(bits[16 * b + j] << j for j in range(16)) for b in range(4))
        assert got[doc_id] == want, f"doc {doc_id}: {got[doc_id]} != {want}"


def test_ahash_png_payloads_hash_pixels_not_bytes():
    """Round-8 verdict item 4: decodable PNG payloads route through
    `png_decode` -> 8x8 nearest-resize -> the exact-integer block hash,
    so a RE-ENCODED copy of the same image (different filter policy =>
    different file bytes) hashes EQUAL, while a byte-shuffled payload
    (no longer a parseable PNG) falls back to byte mode and diverges."""
    import numpy as np

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(24, 17), dtype=np.uint8)
    enc_a = multimodal.png_encode(px, policy="cycle")
    enc_b = multimodal.png_encode(px, policy="fast")
    assert enc_a != enc_b, "re-encode must change the file bytes for this test to bite"
    h_a = multimodal._ahash_bands_kernel(enc_a)
    assert h_a == multimodal._ahash_bands_kernel(enc_b), "pixel hash must survive re-encoding"
    # the PNG path is exactly "hash the 8x8 nearest-resized pixel bytes"
    small = multimodal.png_resize_nearest(px, 8, 8).tobytes()
    assert small[: len(multimodal._PNG_SIG)] != multimodal._PNG_SIG
    assert h_a == multimodal._ahash_bands_kernel(small)
    # byte-shuffle: signature destroyed -> byte-mode fallback, different hash
    shuffled = bytes(np.frombuffer(enc_a, dtype=np.uint8)[rng.permutation(len(enc_a))])
    assert shuffled[: len(multimodal._PNG_SIG)] != multimodal._PNG_SIG
    assert multimodal._ahash_bands_kernel(shuffled) != h_a
    # corrupt-but-signed payload (CRC broken) must fall back, not raise
    corrupt = enc_a[:20] + bytes([enc_a[20] ^ 0xFF]) + enc_a[21:]
    multimodal._ahash_bands_kernel(corrupt)


def test_phash_near_dups_reencoded_png(spark):
    """End-to-end near-dup image detection on PIXELS: the same image
    encoded twice with different filter policies pairs at Hamming 0;
    a visually different image does not pair with either copy."""
    import numpy as np

    rng = np.random.default_rng(23)
    img = rng.integers(0, 256, size=(20, 20), dtype=np.uint8)
    other = 255 - img.T  # visually unrelated under aHash
    rows = [
        (1, bytearray(multimodal.png_encode(img, policy="cycle"))),
        (2, bytearray(multimodal.png_encode(img, policy="fast"))),
        (3, bytearray(multimodal.png_encode(other, policy="cycle"))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    pairs = {(r.id_a, r.id_b): r.hamming for r in multimodal.phash_near_dups(df).collect()}
    assert pairs.get((1, 2)) == 0, f"re-encoded copy must hash identical: {pairs}"
    assert (1, 3) not in pairs and (2, 3) not in pairs, f"unrelated image paired: {pairs}"


def test_hll_daily_union_consistency(spark):
    """Binding contracts for the rows-only HLL sketch query: (1) the
    cumulative union over stored per-day sketches equals a direct sketch
    over the same prefix of the raw data (merge consistency — the
    property that makes the persisted-sketch pattern sound); (2) the
    final estimate is within 2% of the exact distinct count at lgK=14;
    (3) cumulative estimates are non-decreasing."""
    from pyspark.sql import functions as F

    from real_time_big_data_iot_monitoring_pipeline_spark.functions.scalars import utc_naive
    from real_time_big_data_iot_monitoring_pipeline_spark.plans import REGISTRY
    from real_time_big_data_iot_monitoring_pipeline_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    out = REGISTRY["distinct_users_hll_daily"].build(spark, sf).orderBy("day").collect()
    assert len(out) > 1
    cums = [r.cum_users_est for r in out]
    assert cums == sorted(cums), "cumulative distinct estimate must be non-decreasing"

    e = load_table(spark, sf, "events").withColumn(
        "day", F.date_format(utc_naive(F.col("ts")), "yyyy-MM-dd")
    )
    # (1) merge consistency on a mid-stream prefix and the full range
    for upto in (out[len(out) // 2].day, out[-1].day):
        direct = (
            e.filter(F.col("day") <= upto)
            .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(14))).cast("long"))
            .collect()[0][0]
        )
        merged = next(r.cum_users_est for r in out if r.day == upto)
        assert merged == direct, f"union-of-days {merged} != direct sketch {direct} at {upto}"
    # (2) error bound vs exact
    exact = e.agg(F.count_distinct("user_id")).collect()[0][0]
    assert abs(cums[-1] - exact) / exact < 0.02, (cums[-1], exact)


def test_quantile_approx_error_bounded(spark):
    """The rows-only quantile audit's contract: at accuracy=1000 the
    GK summary's rank error is <= 1/1000, so the approx quantile must
    sit within the exact values at q +- 0.005 (rank-error bound)."""
    from pyspark.sql import functions as F

    from real_time_big_data_iot_monitoring_pipeline_spark.plans import REGISTRY
    from real_time_big_data_iot_monitoring_pipeline_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["quantile_approx_error_audit"].build(spark, sf).collect()
    assert rows
    e = load_table(spark, sf, "events")
    for r in rows:
        for q in (50, 95, 99):
            lo_q = max(q / 100 - 0.005, 0.0)
            hi_q = min(q / 100 + 0.005, 1.0)
            lo, hi = (
                e.filter(F.col("event_type") == r.event_type)
                .agg(F.expr(f"percentile(value, {lo_q})"), F.expr(f"percentile(value, {hi_q})"))
                .collect()[0]
            )
            assert lo <= getattr(r, f"approx_p{q}") <= hi, (r.event_type, q)


# --- global-order kernels (windows.global_*) -------------------------------


@pytest.mark.parametrize("n", [1, 4, 37, 9973])
def test_global_ntile_equals_window_ntile(spark, n):
    """`global_ntile` must reproduce NTILE's uneven-bucket assignment
    bit-for-bit at every N, including N < n buckets — the kernel is the
    scale-safe replacement, so any divergence is a correctness bug."""
    from pyspark.sql import Window

    df = spark.range(n).withColumn("v", F.pmod(F.xxhash64("id"), F.lit(997)))
    for buckets in (5, 10):
        want = df.select(
            "id", F.ntile(buckets).over(Window.orderBy("v", "id")).alias("want")
        )
        got = windows.global_ntile(df, ["v", "id"], buckets, out="got")
        bad = want.join(got, "id").filter(F.col("want") != F.col("got")).count()
        assert bad == 0
    # descending order too
    want = df.select(
        "id", F.ntile(5).over(Window.orderBy(F.col("v").desc(), "id")).alias("want")
    )
    got = windows.global_ntile(df, [F.col("v").desc(), F.col("id")], 5, out="got")
    assert want.join(got, "id").filter(F.col("want") != F.col("got")).count() == 0


def test_global_row_number_and_running_sum(spark):
    from pyspark.sql import Window

    n = 9973
    df = (
        spark.range(n)
        .withColumn("v", F.pmod(F.xxhash64("id"), F.lit(997)))
        .withColumn("wt", F.pmod(F.xxhash64("id", F.lit(7)), F.lit(50)) + 1)
    )
    w = Window.orderBy("v", "id")
    want = df.select(
        "id",
        F.row_number().over(w).alias("wr"),
        F.sum("wt").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("ws"),
    )
    got = windows.global_running_sum(
        windows.global_row_number(df, ["v", "id"], out="gr"), ["v", "id"], "wt", out="gs"
    )
    bad = (
        want.join(got, "id")
        .filter((F.col("wr") != F.col("gr")) | (F.col("ws") != F.col("gs")))
        .count()
    )
    assert bad == 0
    # the broadcast grand total matches the plain aggregate
    assert got.select("_grs_total").first()[0] == df.agg(F.sum("wt")).first()[0]


@pytest.mark.parametrize("inclusive", [True, False])
def test_global_running_max(spark, inclusive):
    from pyspark.sql import Window

    n = 9973
    df = (
        spark.range(n)
        .withColumn("v", F.pmod(F.xxhash64("id"), F.lit(997)))
        .withColumn("y", F.pmod(F.xxhash64("id", F.lit(3)), F.lit(500)))
    )
    end = 0 if inclusive else -1
    want = df.select(
        "id",
        F.max("y")
        .over(Window.orderBy("v", "id").rowsBetween(Window.unboundedPreceding, end))
        .alias("want"),
    )
    got = windows.global_running_max(df, ["v", "id"], "y", out="got", inclusive=inclusive)
    bad = (
        want.join(got, "id")
        .filter(
            (F.col("want").isNotNull() != F.col("got").isNotNull())
            | (F.col("want") != F.col("got"))
        )
        .count()
    )
    assert bad == 0


def test_wav_roundtrip_and_stdlib_compat(spark):
    """`wav_encode` must produce files a real WAV reader accepts: decode
    with BOTH our parser and Python's stdlib `wave` module and compare
    sample-exact — proving the payloads are genuine RIFF/WAVE, not a
    private format that only our own code reads."""
    import io
    import wave as stdlib_wave

    import numpy as np

    s = multimodal._synth_samples(7, 4096)
    payload = multimodal.wav_encode(s, 8000)
    sr, s2 = multimodal.wav_decode(payload)
    assert sr == 8000 and np.array_equal(s, s2)
    w = stdlib_wave.open(io.BytesIO(payload))
    assert (w.getframerate(), w.getnchannels(), w.getsampwidth()) == (8000, 1, 2)
    s3 = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")
    assert np.array_equal(s, s3)


def test_wav_decode_rejects_garbage():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        multimodal.wav_decode(b"not a wav at all........")


# --- optimized operator internals vs their earlier expression shape ----------


# Operators restructured for speed while claiming bit-identical output.
# Each test pins the claim against the earlier expression shape (rebuilt
# inline), so an edit that silently changes values fails here even before
# the oracle-parity leg runs.


def _rows(df, cols=None):
    if cols:
        df = df.select(*cols)
    return sorted(map(tuple, df.collect()))


def test_minhash_single_agg_equals_seed_exploded_shape(spark, sf_dir):
    """The round-12 single-aggregation signature builder (32 flat
    min(xxhash64(shingle, s)) columns, one shuffle) must equal the
    pre-optimization seed-exploded double aggregation row for row."""
    docs = load_table(spark, sf_dir, "documents").limit(200)
    num_hashes = 8

    new = dedup.minhash_signatures(docs, num_hashes=num_hashes)

    sh = dedup.word_shingles(docs, "doc_id", "text", 3)
    hh = sh.select(
        "doc_id", "shingle", F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("s")
    )
    old = (
        hh.select("doc_id", "s", F.xxhash64(F.col("shingle"), F.col("s")).alias("a"))
        .groupBy("doc_id", "s")
        .agg(F.min("a").alias("m"))
        .groupBy("doc_id")
        .agg(F.expr("transform(array_sort(collect_list(struct(s, m))), x -> x.m)").alias("sig"))
    )
    assert _rows(new) == _rows(old)


def test_minhash_portable_single_agg_equals_seed_exploded_shape(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(120)
    num_hashes = 8
    new = dedup.minhash_signatures_portable(docs, num_hashes=num_hashes)

    sh = dedup.word_shingles(docs, "doc_id", "text", 3)
    hh = sh.select(
        "doc_id", dedup._portable_hash(F.col("shingle")).alias("h")
    ).select("doc_id", "h", F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("s"))
    old = (
        hh.select(
            "doc_id",
            "s",
            (((2 * F.col("s") + 1) * F.col("h") + 1000003 * F.col("s")) % dedup.PORTABLE_P).alias("a"),
        )
        .groupBy("doc_id", "s")
        .agg(F.min("a").alias("m"))
        .groupBy("doc_id")
        .agg(F.expr("transform(array_sort(collect_list(struct(s, m))), x -> x.m)").alias("sig"))
    )
    assert _rows(new) == _rows(old)


@pytest.fixture(scope="module")
def symmetric_edges(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").limit(5000)
    o = load_table(spark, sf_dir, "orders")
    e0 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("src"),
            (F.lit(10_000_000) + F.col("l_suppkey")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    return e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    ).localCheckpoint(eager=True)


def test_pagerank_broadcast_ranks_equals_shuffled(spark, symmetric_edges):
    base = pagerank_micro(symmetric_edges, iterations=3)
    fast = pagerank_micro(symmetric_edges, iterations=3, broadcast_ranks=True)
    assert _rows(base) == _rows(fast)


def test_pagerank_symmetric_skip_equals_full_node_join(spark, symmetric_edges):
    """On a symmetrized edge set the node-universe distinct + left join
    are identities — symmetric_edges=True must change nothing."""
    base = pagerank_micro(symmetric_edges, iterations=3)
    fast = pagerank_micro(
        symmetric_edges, iterations=3, broadcast_ranks=True, symmetric_edges=True
    )
    assert _rows(base) == _rows(fast)


def test_iqr_bounds_array_percentile_equals_separate_calls(spark, sf_dir):
    """percentile(c, array(q1, q3)) must be bit-equal to two separate
    percentile calls (same buffer, same interpolation)."""
    e = load_table(spark, sf_dir, "events").select("value", (F.col("value") * 3).alias("k"))
    new = iqr_bounds(e, ["value", "k"]).collect()[0]
    aggs = []
    for c in ("value", "k"):
        q1 = F.expr(f"percentile({c}, 0.25)")
        q3 = F.expr(f"percentile({c}, 0.75)")
        iqr = q3 - q1
        aggs.append((q1 - F.lit(1.5) * iqr).alias(f"{c}_lower"))
        aggs.append((q3 + F.lit(1.5) * iqr).alias(f"{c}_upper"))
    old = e.agg(*aggs).collect()[0]
    assert tuple(new) == tuple(old)


def test_banded_levenshtein_equals_unbounded_thresholds(spark, sf_dir):
    """The banded-verify rewrite relies on: for any threshold t,
    (levenshtein(a,b) <= t)  ==  (levenshtein(a,b,t) >= 0), and the
    returned distance is exact whenever it is <= t.  Pin it on real
    fixture names across distances 0..large."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_name").alias("a")).limit(500)
    pairs = c.select(
        "a",
        F.concat(F.substring("a", 1, 3), F.lit("~"), F.expr("substr(a, 5)")).alias("b1"),
        F.reverse(F.col("a")).alias("b2"),
        F.col("a").alias("b0"),
    )
    for b in ("b0", "b1", "b2"):
        for t in (1, 2):
            rows = pairs.select(
                (F.levenshtein("a", b) <= t).alias("ub"),
                (F.levenshtein("a", b, t) >= 0).alias("bd"),
                F.when(F.levenshtein("a", b) <= t, F.levenshtein("a", b)).alias("d_ub"),
                F.when(F.levenshtein("a", b, t) >= 0, F.levenshtein("a", b, t)).alias("d_bd"),
            ).collect()
            for r in rows:
                assert r.ub == r.bd
                assert r.d_ub == r.d_bd
