"""Behavioral tests for extension operators on corpora engineered to
contain near-duplicates (the driver's documents table has none)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    """60 base docs + 20 near-dup variants (one word changed) + 5 exact
    copies. Deterministic (seed 7)."""
    rng = random.Random(7)
    vocab = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = []
    for i in range(60):
        words = [rng.choice(vocab) for _ in range(40)]
        rows.append((i, " ".join(words)))
    # near-dups of docs 0..19: change one word in the middle
    for i in range(20):
        words = rows[i][1].split()
        words[20] = "CHANGED"
        rows.append((100 + i, " ".join(words)))
    # exact copies of docs 30..34
    for i in range(5):
        rows.append((200 + i, rows[30 + i][1]))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_groups(near_dup_docs):
    from taxi_rides_ny_duckdb_spark.operators.dedup import exact_dedup

    out = exact_dedup(near_dup_docs, "text", "doc_id")
    dup_groups = out.filter("n_copies > 1").collect()
    assert {r["canonical_doc_id"] for r in dup_groups} == {30, 31, 32, 33, 34}
    assert all(r["n_copies"] == 2 for r in dup_groups)


def test_minhash_lsh_finds_near_dups(near_dup_docs):
    from taxi_rides_ny_duckdb_spark.operators.dedup import (
        minhash_lsh_dedup_pairs,
        ngram_jaccard_pairs,
    )

    lsh = minhash_lsh_dedup_pairs(
        near_dup_docs, "text", "doc_id", threshold=0.5, num_perm=32, num_bands=16
    )
    got = {(r["id_a"], r["id_b"]) for r in lsh.collect()}
    # ground truth: brute-force pairs at the same threshold
    truth = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(near_dup_docs, "text", "doc_id", 0.5).collect()
    }
    # every planted (i, 100+i) near-dup pair is in the truth set
    assert all((i, 100 + i) in truth for i in range(20))
    # LSH must be a subset of truth (verify step guarantees precision)...
    assert got <= truth
    # ...and with 16 bands × 2 rows recall should be total here
    assert got == truth


def test_lsh_degenerate_bucket_bounded(spark):
    """Boilerplate hazard: 200 byte-identical docs put ALL ids in one
    (band_idx, band_hash) bucket per band. Uncapped that's 200·199/2 =
    19900 pairs per band; with max_bucket_size=20 the bucket salts into
    ceil(200/20)=10 sub-buckets, bounding output at ~size·cap pairs —
    linear, not quadratic, which is what survives a 100 TB corpus."""
    from taxi_rides_ny_duckdb_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(i, "the same boilerplate text repeated everywhere") for i in range(200)],
        ["doc_id", "text"],
    )
    sigs = minhash_signatures(docs, "text", "doc_id", num_perm=16, shingle_n=3)
    capped = lsh_candidate_pairs(
        sigs, "doc_id", num_bands=4, num_perm=16, max_bucket_size=20
    )
    n_capped = capped.count()
    # Per band: ~10 sub-buckets × C(20,2)=190 ≈ 1900 pairs (linear in
    # bucket size — the scale guarantee). The 4 bands salt
    # *independently* (salt hashes (id, band_idx)), so the union is
    # ≈ 19900·(1-0.9⁴) ≈ 6800 — each band is a fresh chance for a pair
    # to co-land, by design. Still bounded at bands × size × cap,
    # far below quadratic as size grows past the cap.
    assert 0 < n_capped < 10000
    uncapped = lsh_candidate_pairs(
        sigs, "doc_id", num_bands=4, num_perm=16, max_bucket_size=1_000_000
    )
    assert uncapped.count() == 199 * 200 // 2


def test_simhash_hamming_near_dups(near_dup_docs):
    from taxi_rides_ny_duckdb_spark.operators.dedup import (
        simhash,
        simhash_candidate_pairs,
    )

    hashed = simhash(near_dup_docs, "text", "doc_id")
    assert hashed.count() == 85
    pairs = simhash_candidate_pairs(hashed, "doc_id", max_hamming=8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # exact copies have hamming 0 → always found
    assert all((30 + i, 200 + i) in got for i in range(5))


def test_lsh_topk_subset_of_bruteforce(spark, sf_dir):
    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )
    from taxi_rides_ny_duckdb_spark.sources.registry import load

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    bf = brute_force_topk(emb, queries, k=3)
    ann = lsh_topk(emb, queries, k=3, dim=64, bits=4)
    # self-match: every query's rank-1 neighbor is itself (cos=1)
    for r in bf.filter("rank = 1").collect():
        assert r["vec_id"] == r["query_id"]
    for r in ann.filter("rank = 1").collect():
        assert r["vec_id"] == r["query_id"]  # self always shares its own bucket
    # ANN scores are genuine cosines: each (query, vec) pair in ANN must
    # appear in brute force's full ranking with the same score, up to
    # the 9-dp parity rounding
    bf_all = brute_force_topk(emb, queries, k=10**6)
    bf_scores = {
        (r["query_id"], r["vec_id"]): r["cosine_sim"] for r in bf_all.collect()
    }
    for r in ann.collect():
        assert abs(bf_scores[(r["query_id"], r["vec_id"])] - r["cosine_sim"]) < 1e-9


def test_sessionize_gap_boundaries(spark):
    import datetime as dt

    from taxi_rides_ny_duckdb_spark.operators.windows import sessionize

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, 100, t0),
        (2, 100, t0 + dt.timedelta(minutes=10)),   # same session
        (3, 100, t0 + dt.timedelta(minutes=41)),   # 31min gap → new session
        (4, 100, t0 + dt.timedelta(minutes=71)),   # exactly 30min gap → SAME session
        (5, 200, t0),                              # other user
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
    out = {r["event_id"]: r["session_seq"] for r in sessionize(df).collect()}
    assert out == {1: 1, 2: 1, 3: 2, 4: 2, 5: 1}


def test_top_k_per_group(spark, sf_dir):
    from taxi_rides_ny_duckdb_spark.operators.windows import top_k_per_group
    from taxi_rides_ny_duckdb_spark.sources.registry import load

    o = load(spark, sf_dir, "orders")
    out = top_k_per_group(
        o, ["o_orderpriority"], "o_totalprice", 3, tiebreak_cols=["o_orderkey"]
    )
    counts = out.groupBy("o_orderpriority").count().collect()
    assert all(r["count"] == 3 for r in counts)
    # rank-1 really is the max
    for r in out.filter("rank = 1").collect():
        mx = o.filter(F.col("o_orderpriority") == r["o_orderpriority"]).agg(
            F.max("o_totalprice")
        ).first()[0]
        assert r["o_totalprice"] == mx


def test_ivf_topk_recall_vs_bruteforce(spark, sf_dir):
    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        train_ivf_centroids,
    )
    from taxi_rides_ny_duckdb_spark.sources.registry import load

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = train_ivf_centroids(emb, nlist=8, seed=42)
    assert len(cents) == 8 and len(cents[0]) == 64
    ann = ivf_topk(emb, queries, k=5, nlist=8, nprobe=2, centroids=cents)
    bf = brute_force_topk(emb, queries, k=5)

    # a query's own vector lands in its own probe list → rank-1 self-match
    for r in ann.filter("rank = 1").collect():
        assert r["vec_id"] == r["query_id"]

    # IVF scores are genuine cosines (subset of the exact full ranking),
    # up to the 9-dp parity rounding
    bf_all = brute_force_topk(emb, queries, k=10**6)
    bf_scores = {
        (r["query_id"], r["vec_id"]): r["cosine_sim"] for r in bf_all.collect()
    }
    for r in ann.collect():
        assert abs(bf_scores[(r["query_id"], r["vec_id"])] - r["cosine_sim"]) < 1e-9

    # recall@5 with 2/8 lists probed: data-adaptive partitions should
    # recover well over half the true neighbors on clustered embeddings
    truth = {(r["query_id"], r["vec_id"]) for r in bf.collect()}
    got = {(r["query_id"], r["vec_id"]) for r in ann.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.5, f"IVF recall@5 too low: {recall}"


def test_asof_join_directions_and_ties(spark):
    import datetime as dt

    from taxi_rides_ny_duckdb_spark.operators.temporal import asof_join

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    left = spark.createDataFrame(
        [(1, t(10), "a"), (1, t(20), "b"), (2, t(5), "c")],
        ["k", "ts", "lbl"],
    )
    right = spark.createDataFrame(
        [(1, t(10), 100.0), (1, t(15), 150.0), (2, t(30), 300.0)],
        ["k", "ts", "px"],
    )
    back = {r["lbl"]: r["px"] for r in asof_join(left, right, "k").collect()}
    # tie at t10 matches (<=); t20 takes the latest prior (t15); k=2 has
    # no prior quote -> NULL
    assert back == {"a": 100.0, "b": 150.0, "c": None}

    fwd = {
        r["lbl"]: r["px"]
        for r in asof_join(left, right, "k", direction="forward").collect()
    }
    assert fwd == {"a": 100.0, "b": None, "c": 300.0}


def test_asof_join_single_shuffle(spark, sf_dir):
    """The sort-based as-of plan must shuffle ONCE (on the key) — no
    join operator, no nested loop (operators/temporal.py)."""
    from taxi_rides_ny_duckdb_spark.operators.temporal import asof_join
    from taxi_rides_ny_duckdb_spark.sources.registry import load

    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    plan = asof_join(clicks, views, "user_id")._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    n_exchanges = sum(
        1
        for l in plan.splitlines()
        if "Exchange" in l and "Reused" not in l
    )
    assert n_exchanges == 1, plan


def test_range_join_rejects_ambiguous_columns(spark):
    import datetime as dt

    from taxi_rides_ny_duckdb_spark.operators.temporal import range_join

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2))], ["k", "ts", "end"]
    )
    with pytest.raises(ValueError, match="rename overlapping"):
        range_join(df, df, "ts", "ts", "end", on="k")


def test_range_join_no_nested_loop(spark, sf_dir):
    """The bucketed range join must be a hash/sort-merge equi-join on
    (bucket, key) — never BroadcastNestedLoopJoin."""
    from taxi_rides_ny_duckdb_spark import contract

    contract.load_all()
    df = contract.QUERIES["ext_range_join"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_multimodal_resize_and_frames(spark):
    from taxi_rides_ny_duckdb_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        resize_images,
        sample_frames,
    )

    rows = [
        (1, "image", "image/png", b"imgbytes-1"),
        (2, "video", "video/mp4", b"vidbytes-2"),
        (3, "image", "image/png", b"imgbytes-3"),
        (4, "audio", "audio/wav", b"audbytes-4"),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)

    resized = resize_images(media, 64, 64, decode_stub=True).collect()
    assert {r["media_id"] for r in resized} == {1, 3}  # images only
    assert all(r["width"] == 64 and r["height"] == 64 for r in resized)
    assert all(len(r["payload"]) == 64 * 64 // 256 for r in resized)
    # deterministic: same input bytes -> same resized payload
    again = resize_images(media, 64, 64, decode_stub=True).collect()
    assert {r["media_id"]: bytes(r["payload"]) for r in resized} == {
        r["media_id"]: bytes(r["payload"]) for r in again
    }

    frames = sample_frames(media, every_n=10).collect()
    assert {r["media_id"] for r in frames} == {2}  # videos only
    assert sorted(r["frame_idx"] for r in frames) == [0, 10, 20]
    assert len({bytes(r["frame_payload"]) for r in frames}) == 3  # per-frame distinct


@pytest.mark.skipif(
    not __import__(
        "taxi_rides_ny_duckdb_spark.operators.multimodal",
        fromlist=["_pil_available"],
    )._pil_available(),
    reason="Pillow not installed — real decode path unavailable",
)
def test_multimodal_real_decode_with_pil(spark):
    """When Pillow IS present, decode_stub=None routes to the real
    decoder: PNG dimensions come from the actual image, resize
    re-encodes at the target size, and a corrupt payload yields NULL
    dimensions instead of failing the partition."""
    import io

    from PIL import Image

    from taxi_rides_ny_duckdb_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_media_features,
        resize_images,
    )

    def png_bytes(w, h):
        buf = io.BytesIO()
        Image.new("RGB", (w, h), (120, 30, 200)).save(buf, format="PNG")
        return buf.getvalue()

    rows = [
        (1, "image", "image/png", png_bytes(20, 10)),
        (2, "image", "image/png", png_bytes(7, 5)),
        (3, "image", "image/png", b"not-an-image"),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in extract_media_features(media).collect()}
    assert (feats[1]["width"], feats[1]["height"], feats[1]["n_frames"]) == (20, 10, 1)
    assert (feats[2]["width"], feats[2]["height"]) == (7, 5)
    assert feats[3]["width"] is None and feats[3]["height"] is None

    resized = {r["media_id"]: r for r in resize_images(media, 8, 6).collect()}
    with Image.open(io.BytesIO(bytes(resized[1]["payload"]))) as out:
        assert (out.width, out.height) == (8, 6)
    assert resized[3]["payload"] is None


def test_container_header_parsers_roundtrip():
    """The pure-Python WAV/MP4 metadata parsers must read back exactly
    what the synthesizers wrote — including the RIFF odd-size padding
    walk, the mvhd v1 (64-bit) layout, and graceful None on garbage."""
    import struct

    from taxi_rides_ny_duckdb_spark.operators.multimodal import (
        parse_mp4_header,
        parse_wav_header,
        synthesize_mp4,
        synthesize_wav,
    )

    # stereo: block align 4, 101 bytes of data truncate to 25 frames
    wav = synthesize_wav(b"x" * 101, 2, 16000)
    assert parse_wav_header(wav) == (2, 16000, 16, 25)
    # mono with an extra ODD-sized chunk before fmt: the chunk walk
    # must skip it with word alignment intact
    extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    base = synthesize_wav(b"y" * 32, 1, 8000)
    padded = base[:12] + extra + base[12:]
    assert parse_wav_header(padded) == (1, 8000, 16, 16)

    mp4 = synthesize_mp4(7, 336, 256)
    assert len(mp4) == 232  # the constant the contract oracle pins
    assert parse_mp4_header(mp4) == (600, 7 * 600, 336, 256)
    # mvhd version 1: 64-bit creation/modification/duration layout
    mvhd1_body = (
        b"\x01\x00\x00\x00"
        + struct.pack(">QQ", 0, 0)
        + struct.pack(">I", 90000)
        + struct.pack(">Q", 123456789)
    )
    mvhd1 = struct.pack(">I", 8 + len(mvhd1_body)) + b"mvhd" + mvhd1_body
    moov = struct.pack(">I", 8 + len(mvhd1)) + b"moov" + mvhd1
    assert parse_mp4_header(moov) == (90000, 123456789, None, None)

    # corrupt inputs are data, not exceptions
    for junk in (b"", b"RIFF", b"RIFFxxxxWAVE", b"\x00" * 40, b"not-media"):
        assert parse_wav_header(junk) is None
        assert parse_mp4_header(junk) is None


def test_extract_media_features_real_container_path(spark):
    """extract_media_features(decode_stub=False) on audio/video rows
    runs WITHOUT Pillow (container parsing is pure Python): WAV rows
    get sample_rate/n_frames/duration_ms, MP4 rows get
    width/height/duration_ms, and a corrupt payload degrades to NULL
    metadata instead of failing the partition."""
    from taxi_rides_ny_duckdb_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_media_features,
        synthesize_mp4,
        synthesize_wav,
    )

    rows = [
        (1, "audio", "audio/wav", synthesize_wav(b"z" * 400, 2, 16000)),
        (2, "video", "video/mp4", synthesize_mp4(3, 320, 240)),
        (3, "audio", "audio/wav", b"garbage-not-a-wav"),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {
        r["media_id"]: r
        for r in extract_media_features(media, decode_stub=False).collect()
    }
    a = feats[1]
    assert (a["sample_rate"], a["n_frames"], a["duration_ms"]) == (
        16000,
        100,
        100 * 1000 // 16000,
    )
    assert a["width"] is None and a["height"] is None
    v = feats[2]
    assert (v["width"], v["height"], v["duration_ms"]) == (320, 240, 3000)
    assert v["sample_rate"] is None and v["n_frames"] is None
    bad = feats[3]
    assert bad["sample_rate"] is None and bad["duration_ms"] is None
    assert bad["n_bytes"] == len(b"garbage-not-a-wav")


def test_hash_split_deterministic_partition_of_ids(spark):
    """hash_split labels are a deterministic function of id only:
    stable across re-runs and repartitioning, weights ~respected."""
    from taxi_rides_ny_duckdb_spark.operators.sampling import hash_split

    df = spark.range(0, 10_000).withColumnRenamed("id", "doc_id")
    s1 = {r["doc_id"]: r["split"] for r in
          hash_split(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    s2 = {r["doc_id"]: r["split"] for r in
          hash_split(df.repartition(13), "doc_id",
                     {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    assert s1 == s2
    n = len(s1)
    from collections import Counter
    c = Counter(s1.values())
    assert abs(c["train"] / n - 0.8) < 0.02
    assert abs(c["val"] / n - 0.1) < 0.01
    assert abs(c["test"] / n - 0.1) < 0.01


def test_hash_sample_is_subset_and_stable(spark):
    from taxi_rides_ny_duckdb_spark.operators.sampling import hash_sample

    df = spark.range(0, 5_000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.2).collect()}
    b = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.5).collect()}
    assert a <= b  # nested samples: smaller fraction is a subset
    assert abs(len(a) / 5_000 - 0.2) < 0.03
    again = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.2).collect()}
    assert a == again


def test_hash_split_rejects_bad_weights(spark):
    import pytest

    from taxi_rides_ny_duckdb_spark.operators.sampling import hash_split

    df = spark.range(3).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(df, "doc_id", {"a": 0.5, "b": 0.6})


def test_read_source_json_and_csv_roundtrip(spark, sf_dir, tmp_path):
    """Format-generic source layer (sources/registry.read_source):
    JSON-lines and CSV reads with explicit schema reproduce the
    parquet table; schema-less text reads are rejected."""
    import pytest

    from taxi_rides_ny_duckdb_spark.sources.registry import load, read_source

    nation = load(spark, sf_dir, "nation")
    jdir, cdir = str(tmp_path / "j"), str(tmp_path / "c")
    nation.coalesce(1).write.json(jdir)
    nation.coalesce(1).write.option("header", True).csv(cdir)

    back_j = read_source(spark, jdir, "json", schema=nation.schema)
    back_c = read_source(spark, cdir, "csv", schema=nation.schema)
    expect = sorted(map(tuple, nation.collect()))
    assert sorted(map(tuple, back_j.collect())) == expect
    assert sorted(map(tuple, back_c.collect())) == expect

    with pytest.raises(ValueError, match="explicit schema"):
        read_source(spark, jdir, "json")


def test_assign_nearest_centroid_ties_to_lower_id(spark):
    """K-means assignment (operators/similarity.assign_nearest_centroid):
    equidistant centroids resolve to the lower centroid id."""
    from pyspark.sql import Row

    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        assign_nearest_centroid,
    )

    df = spark.createDataFrame(
        [Row(vec_id=0, embedding=[0.0, 0.0]), Row(vec_id=1, embedding=[10.0, 0.0])],
        schema="vec_id int, embedding array<double>",
    )
    cents = [[1.0, 0.0], [-1.0, 0.0], [9.0, 0.0]]
    got = {
        r["vec_id"]: r["centroid_id"]
        for r in assign_nearest_centroid(df, cents).collect()
    }
    assert got[0] == 0  # tie between centroids 0 and 1 -> lower id
    assert got[1] == 2


def test_connected_components_and_cluster_dedup(spark, monkeypatch):
    """operators/dedup.connected_components: chain a-b-c collapses
    transitively even though a,c never pair; triangle+tail is one
    component; isolated nodes are singletons; cluster_dedup keeps
    exactly one (min-id) survivor per component."""
    from pyspark.sql import Row

    from taxi_rides_ny_duckdb_spark.operators import dedup
    from taxi_rides_ny_duckdb_spark.operators.dedup import (
        _union_find,
        cluster_dedup,
        connected_components,
    )

    # components: {1,2,3} (chain), {10,11,12,13} (triangle 10-11-12 + tail 13), {20} singleton
    edges = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3),
         Row(id_a=10, id_b=11), Row(id_a=11, id_b=12), Row(id_a=10, id_b=12),
         Row(id_a=12, id_b=13)],
        schema="id_a bigint, id_b bigint",
    )
    docs = spark.createDataFrame(
        [Row(doc_id=i) for i in (1, 2, 3, 10, 11, 12, 13, 20)],
        schema="doc_id bigint",
    )
    expected = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 13: 10, 20: 20}
    assert _union_find(
        [(r["id_a"], r["id_b"]) for r in edges.collect()], list(expected)
    ) == expected
    # both sides of the size gate must agree: driver union-find (tiny
    # edge lists) and distributed large-star/small-star (gate at 0)
    for gate in (dedup._CC_DRIVER_MAX_EDGES, 0):
        monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", gate)
        comp = {r["id"]: r["component"]
                for r in connected_components(edges, nodes=docs).collect()}
        assert comp == expected, gate

    survivors = sorted(r["doc_id"] for r in cluster_dedup(docs, edges, "doc_id").collect())
    assert survivors == [1, 10, 20]  # one min-id survivor per component


def test_connected_components_strategies_agree_on_hard_graphs(spark, monkeypatch):
    """Property check (VERDICT r5 #8): distributed large-star/small-star
    produces the (id → min-of-component) map of driver union-find on
    (a) fixed-seed random graphs, (b) a high-degree hub (the skew case
    star exists for), and (c) a long chain (the diameter case)."""
    import random

    from pyspark.sql import Row

    from taxi_rides_ny_duckdb_spark.operators import dedup
    from taxi_rides_ny_duckdb_spark.operators.dedup import (
        _union_find,
        connected_components,
    )

    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", 0)

    cases = []
    for seed in (7, 42):
        rng = random.Random(seed)
        n = 60
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(n), 2)))
                for _ in range(45)
            }
        )
        cases.append((f"random{seed}", edges, list(range(n))))
    hub = [(0, i) for i in range(1, 40)] + [(200, 201)]
    cases.append(("hub", hub, list(range(40)) + [200, 201, 300]))
    chain = [(i, i + 1) for i in range(30)]
    cases.append(("chain", chain, list(range(31))))

    for name, edges, node_ids in cases:
        expected = _union_find(edges, node_ids)
        e_df = spark.createDataFrame(
            [Row(id_a=a, id_b=b) for a, b in edges], schema="id_a bigint, id_b bigint"
        )
        n_df = spark.createDataFrame(
            [Row(id=i) for i in node_ids], schema="id bigint"
        )
        got = {
            r["id"]: r["component"]
            for r in connected_components(e_df, nodes=n_df).collect()
        }
        assert got == expected, name


def test_edit_distance_pairs_blocking_and_threshold(spark):
    """edit_distance_pairs: finds within-block pairs up to the bound,
    never compares across blocks, and orders ids (id_a < id_b)."""
    from taxi_rides_ny_duckdb_spark.operators.dedup import edit_distance_pairs

    rows = [
        (1, "kitten", "en"),
        (2, "sitten", "en"),   # distance 1 from kitten
        (3, "kitten", "de"),   # identical text, other block → excluded
        (4, "aardvark", "en"), # distance > 2 from all
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string, lang string")
    got = sorted(
        (r["id_a"], r["id_b"], r["distance"])
        for r in edit_distance_pairs(
            df, "text", "doc_id", 2, [F.col("lang")]
        ).collect()
    )
    assert got == [(1, 2, 1)]


def test_group_medoid_picks_central_member(spark):
    """group_medoid: duplicated direction wins (it is closest to the
    group overall), exact ties break to the lowest id (deterministic
    sorted-order reduction), singleton groups are their own medoid
    with zero mean distance. Totals round HALF_UP at 9 dp like F.round
    and the oracle's ``round(total, 9) DESC``: in group "c" ids 1 and 2
    total 2.0000000005 and 2.0000000009, both 2.000000001 HALF_UP (a
    tie, so the lower id wins), while half-even ``np.round`` gives 2.0
    for id 1 and the unrounded argmax picks id 2."""
    import duckdb

    from taxi_rides_ny_duckdb_spark.operators.similarity import group_medoid

    rows = [
        ("a", 1, [1.0, 0.0]),
        ("a", 2, [1.0, 0.0]),   # same direction as id 1 → tie, min id wins
        ("a", 3, [0.0, 1.0]),   # orthogonal outlier
        ("b", 7, [0.5, 0.5]),   # singleton
        # unit norms exactly 1.0; totals 2 + 5e-10, 2 + 9e-10, 1 + 1.4e-9
        ("c", 1, [5e-10, 1.0, 0.0]),
        ("c", 2, [9e-10, 1.0, 0.0]),
        ("c", 3, [1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(
        rows, schema="label string, vec_id long, embedding array<double>"
    )
    got = {
        r["label"]: (r["medoid_id"], r["group_size"], r["mean_dist"])
        for r in group_medoid(df, "label", "embedding", "vec_id").collect()
    }
    assert got["a"][0] == 1 and got["a"][1] == 3
    assert got["b"] == (7, 1, 0.0)
    assert duckdb.sql(
        "SELECT round(2.0000000005::DOUBLE, 9)"
    ).fetchone()[0] == 2.000000001
    assert got["c"] == (1, 3, (3 - 2.000000001) / 2)


def test_group_medoid_linear_form_and_max_group_guard(spark):
    """VERDICT r6 #8: (a) the O(|g|·d) associativity form picks the
    same medoid as an explicit gram-matrix computation on a
    pathological 500-member group (exactness, not approximation);
    (b) max_group raises with pre-bucketing guidance instead of
    silently shipping an oversized Arrow group."""
    import numpy as np
    import pytest

    from taxi_rides_ny_duckdb_spark.functions.parity import (
        PARITY_DP,
        round_half_up_np,
    )
    from taxi_rides_ny_duckdb_spark.operators.similarity import group_medoid

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(500, 16))
    rows = [("g", int(i), [float(x) for x in vecs[i]]) for i in range(500)]
    df = spark.createDataFrame(
        rows, schema="label string, vec_id long, embedding array<double>"
    )
    got = group_medoid(df, "label", "embedding", "vec_id").collect()[0]

    unit = vecs / np.linalg.norm(vecs, axis=1)[:, None]
    want = int(np.argmax(round_half_up_np((unit @ unit.T).sum(axis=1), PARITY_DP)))
    assert got["medoid_id"] == want and got["group_size"] == 500

    with pytest.raises(Exception, match="max_group"):
        group_medoid(df, "label", "embedding", "vec_id", max_group=100).collect()


def test_pack_sequences_split_layout(spark):
    """Split-mode packing = concatenate-then-chunk: offsets are the
    running sum mod max, pack ids the running sum div max, and an
    oversized doc spans ceil packs from its landing offset."""
    from taxi_rides_ny_duckdb_spark.operators.packing import pack_sequences_split

    rows = [(1, 100), (2, 950), (3, 2100), (4, 1), (5, 0)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    got = {r["doc_id"]: r for r in
           pack_sequences_split(df, "n", "doc_id", 1024).collect()}
    assert (got[1]["pack_id"], got[1]["pack_offset"], got[1]["n_splits"]) == (0, 0, 1)
    assert (got[2]["pack_id"], got[2]["pack_offset"], got[2]["n_splits"]) == (0, 100, 2)
    # doc 3 starts at absolute 1050 → pack 1 offset 26, 2100 tokens → 3 packs
    assert (got[3]["pack_id"], got[3]["pack_offset"], got[3]["n_splits"]) == (1, 26, 3)
    assert (got[4]["pack_id"], got[4]["pack_offset"], got[4]["n_splits"]) == (3, 78, 1)
    assert got[5]["n_splits"] == 1  # zero-token doc still lands somewhere


def test_pack_sequences_greedy_atomic(spark):
    """Greedy mode never splits a document: every (pack_offset +
    n_tokens) fits max_tokens unless the doc alone exceeds it (then it
    owns the pack), packs are dense in id order, and buckets pack
    independently."""
    from taxi_rides_ny_duckdb_spark.operators.packing import pack_sequences_greedy

    rows = [("a", 1, 600), ("a", 2, 500), ("a", 3, 500), ("a", 4, 2000),
            ("a", 5, 10), ("b", 6, 1024), ("b", 7, 1)]
    df = spark.createDataFrame(rows, "lang string, doc_id long, n long")
    got = {r["doc_id"]: r for r in
           pack_sequences_greedy(df, "n", "doc_id", 1024, bucket_col="lang").collect()}
    # bucket a: 600 | 500+500 | 2000 (oversized, own pack) | 10
    assert [got[i]["pack_id"] for i in (1, 2, 3, 4, 5)] == [0, 1, 1, 2, 3]
    assert got[3]["pack_offset"] == 500
    assert got[4]["pack_offset"] == 0
    # bucket b restarts numbering: exactly-full pack closes, next opens
    assert (got[6]["pack_id"], got[7]["pack_id"]) == (0, 1)
    # atomicity: in-bounds docs never straddle the boundary
    for i in (1, 2, 3, 5, 7):
        assert got[i]["pack_offset"] + got[i]["n_tokens"] <= 1024


def test_tfidf_topk_scores_and_tiebreak(spark):
    """tfidf_topk_terms: smooth idf ln((N+1)/(df+1))+1, rare terms
    outrank common ones, equal scores tie-break by term ascending."""
    import math

    from taxi_rides_ny_duckdb_spark.operators.cleaning import tfidf_topk_terms

    docs = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "banana cherry"), (3, "cherry cherry cherry")],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["rank"]): (r["term"], r["tfidf_r"])
        for r in tfidf_topk_terms(docs, "text", "doc_id", 2).collect()
    }
    idf_rare = math.log(4 / 2) + 1.0    # df=1 (apple)
    idf_common = math.log(4 / 3) + 1.0  # df=2 (banana, cherry)
    assert got[(1, 1)] == ("apple", round(2 * idf_rare, 9))
    assert got[(1, 2)] == ("banana", round(1 * idf_common, 9))
    # doc 2: banana and cherry score identically -> term-asc tie-break
    assert got[(2, 1)][0] == "banana" and got[(2, 2)][0] == "cherry"
    assert got[(3, 1)] == ("cherry", round(3 * idf_common, 9))


def test_chunk_token_windows_coverage_and_edges(spark):
    """Sliding-window chunking: n_chunks = 1 + ceil(max(n-W,0)/S),
    consecutive chunks overlap by W-S, the last chunk reaches the
    document end (possibly short), and a short doc yields one chunk."""
    from taxi_rides_ny_duckdb_spark.operators.packing import chunk_token_windows

    docs = spark.createDataFrame(
        [
            (1, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),  # n=10 → 3 chunks
            (2, "a b c d"),                          # n=W exactly → 1 chunk
            (3, "a b c d e"),                        # n=5 → 2 (2nd short)
            (4, "x"),                                # n<W → 1 short chunk
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_chunk_tokens"])
        for r in chunk_token_windows(docs, "text", "doc_id", window=4, stride=3).collect()
    }
    assert got[(1, 0)] == ("t1 t2 t3 t4", 4)
    assert got[(1, 1)] == ("t4 t5 t6 t7", 4)   # overlap of W-S=1 token
    assert got[(1, 2)] == ("t7 t8 t9 t10", 4)  # reaches the end
    assert len([k for k in got if k[0] == 1]) == 3
    assert got[(2, 0)] == ("a b c d", 4) and len([k for k in got if k[0] == 2]) == 1
    assert got[(3, 1)] == ("d e", 2)
    assert got[(4, 0)] == ("x", 1)


@pytest.mark.parametrize("window,stride", [(4, 3), (5, 2), (8, 8), (3, 1)])
def test_chunk_token_windows_reconstruction_property(spark, window, stride):
    """Lossless-coverage property: for any document, chunk 0 plus each
    later chunk with its first (window-stride) overlap tokens dropped
    concatenates back to EXACTLY the original token sequence — no
    token lost, none duplicated. Holds for every n because the last
    chunk always contributes > window-stride... >= 1 new tokens (ceil
    arithmetic, proven in the operator docstring)."""
    from taxi_rides_ny_duckdb_spark.operators.packing import chunk_token_windows

    docs = [(n, " ".join(f"w{i}" for i in range(1, n + 1))) for n in range(0, 33)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = chunk_token_windows(df, "text", "doc_id", window=window, stride=stride).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk_text"]))
    assert 0 not in by_doc  # empty doc yields no chunks
    for n in range(1, 33):
        chunks = [t for _, t in sorted(by_doc[n])]
        rebuilt = chunks[0].split(" ")
        for c in chunks[1:]:
            rebuilt += c.split(" ")[window - stride:]
        assert rebuilt == [f"w{i}" for i in range(1, n + 1)], (n, window, stride)


def test_j7_aggregate_decorrelation_equivalent(spark, sf_dir):
    """The two contract renderings of Q21 must agree row-for-row:
    ``j7_semi_anti_multicond`` (the r9 default: merge-pinned SEMI/ANTI
    self-joins — the four-plan sf10 scorecard reversed the r8
    decorrelation promotion) and ``j7_decorrelated_form`` (the
    EXISTS→aggregate rewrite — EXISTS(other supplier) ⇔ distinct
    suppliers > 1, NOT EXISTS(other R supplier) ⇔ distinct
    R-suppliers = 1 — kept as plan coverage for the bucketed regime)."""
    from taxi_rides_ny_duckdb_spark import contract

    contract.load_all()
    agg_form = {
        (r["s_name"], r["numwait"])
        for r in contract.BUILDERS["j7_decorrelated_form"](spark, sf_dir).collect()
    }
    semi_anti = {
        (r["s_name"], r["numwait"])
        for r in contract.BUILDERS["j7_semi_anti_multicond"](spark, sf_dir).collect()
    }
    assert agg_form == semi_anti and semi_anti


def test_ngram_contamination_flags_planted_overlap(spark):
    """A doc embedding a benchmark phrase is flagged with the exact
    distinct-shingle overlap count; clean docs are absent."""
    from taxi_rides_ny_duckdb_spark.operators.dedup import ngram_contamination

    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (10, "intro text then the quick brown fox jumps away"),  # 2 shared 4-grams
            (11, "completely unrelated words here nothing shared at all"),
            (12, "the quick brown fox jumps over the lazy dog verbatim copy"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["n_overlap"] for r in
           ngram_contamination(corpus, bench, "text", "doc_id", shingle_n=4).collect()}
    assert 11 not in got
    # doc 10 shares 'the quick brown fox' and 'quick brown fox jumps'
    assert got[10] == 2
    # doc 12 contains all 6 benchmark 4-grams
    assert got[12] == 6


def test_bloom_prefilter_matches_exact_contamination(spark):
    """The Bloom-prefiltered path returns bit-for-bit the same per-doc
    overlap counts as the exact broadcast path — false positives are
    removed by the verify join, false negatives are impossible (a Bloom
    filter never rejects a member). Checked across two (m, k) configs,
    including a deliberately tiny m that forces heavy FP pressure."""
    from taxi_rides_ny_duckdb_spark.operators.dedup import (
        bloom_prefilter_contamination,
        ngram_contamination,
    )

    bench = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "pack my box with five dozen liquor jugs today"),
        ],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (10, "intro text then the quick brown fox jumps away"),
            (11, "completely unrelated words here nothing shared at all"),
            (12, "the quick brown fox jumps over the lazy dog verbatim copy"),
            (13, "she said pack my box with five dozen liquor jugs now"),
        ],
        ["doc_id", "text"],
    )
    exact = {
        r["doc_id"]: r["n_overlap"]
        for r in ngram_contamination(
            corpus, bench, "text", "doc_id", shingle_n=4
        ).collect()
    }
    for m_bits, k in ((1 << 12, 5), (64, 2)):  # 64 bits ~ all-FP regime
        got = {
            r["doc_id"]: r["n_overlap"]
            for r in bloom_prefilter_contamination(
                corpus, bench, "text", "doc_id",
                shingle_n=4, m_bits=m_bits, k=k,
            ).collect()
        }
        assert got == exact, (m_bits, k)


def test_bloom_bitset_no_false_negatives_and_bounded(spark):
    """Every inserted key tests positive against the bitset (the Bloom
    guarantee the prefilter relies on), and the bitset is m/64 words
    regardless of how many keys were inserted."""
    from pyspark.sql import functions as SF

    from taxi_rides_ny_duckdb_spark.operators.dedup import bloom_bitset

    m_bits, k = 1 << 10, 3
    keys = spark.createDataFrame(
        [(f"key-{i}",) for i in range(200)], ["sh"]
    )
    words = bloom_bitset(keys, "sh", m_bits, k)
    assert len(words) == m_bits // 64

    # Re-test membership with the same expression the prefilter uses.
    probe = keys.select(
        "sh",
        SF.lit(words).alias("__bloom_bits"),
        *[
            SF.pmod(SF.xxhash64(SF.col("sh"), SF.lit(i)), SF.lit(m_bits))
            .cast("long")
            .alias(f"__p{i}")
            for i in range(k)
        ],
    )
    miss = probe.filter(
        ~(
            SF.expr(
                "(element_at(__bloom_bits, CAST(__p0 DIV 64 AS INT) + 1)"
                " & shiftleft(1L, CAST(__p0 % 64 AS INT))) != 0"
            )
            & SF.expr(
                "(element_at(__bloom_bits, CAST(__p1 DIV 64 AS INT) + 1)"
                " & shiftleft(1L, CAST(__p1 % 64 AS INT))) != 0"
            )
            & SF.expr(
                "(element_at(__bloom_bits, CAST(__p2 DIV 64 AS INT) + 1)"
                " & shiftleft(1L, CAST(__p2 % 64 AS INT))) != 0"
            )
        )
    ).count()
    assert miss == 0


def test_mixture_sample_hits_target_composition(spark):
    """Output composition approximates the target shares (law of large
    numbers over the hash draw), never upsamples, drops unlisted
    strata, and is deterministic across invocations."""
    import pytest

    from taxi_rides_ny_duckdb_spark.operators.sampling import mixture_sample

    rows = (
        [(i, "en") for i in range(4000)]
        + [(i + 10_000, "de") for i in range(1000)]
        + [(i + 20_000, "fr") for i in range(500)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = mixture_sample(df, "doc_id", "lang", {"en": 0.5, "de": 0.5})
    got = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert "fr" not in got
    # de runs out first: n_out = 1000/0.5 = 2000 → ~1000 de (all) + ~1000 en
    assert got["de"] == 1000  # f_de = 1.0 keeps every row
    assert abs(got["en"] - 1000) < 150  # hash draw at f_en = 0.25
    again = mixture_sample(df, "doc_id", "lang", {"en": 0.5, "de": 0.5})
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )
    with pytest.raises(ValueError, match="sum to 1"):
        mixture_sample(df, "doc_id", "lang", {"en": 0.5})
    with pytest.raises(ValueError, match="absent"):
        mixture_sample(df, "doc_id", "lang", {"en": 0.5, "xx": 0.5})


def test_epoch_upsample_multiset_and_fractional(spark):
    """2.0 epochs duplicates exactly; 2.3 adds a ~30% hash-selected
    third copy; 0.4 is a plain downsample-style draw (some rows 0
    copies); epoch_idx is dense per row; epochs<=0 raises."""
    import pytest

    from taxi_rides_ny_duckdb_spark.operators.sampling import epoch_upsample

    df = spark.createDataFrame([(i, "x") for i in range(2000)], ["doc_id", "lang"])
    two = epoch_upsample(df, "doc_id", 2.0)
    assert two.count() == 4000
    assert two.groupBy("doc_id").count().filter("count != 2").count() == 0
    assert {r["epoch_idx"] for r in two.filter("doc_id = 0").collect()} == {0, 1}

    frac = epoch_upsample(df, "doc_id", 2.3)
    n3 = frac.groupBy("doc_id").count().filter("count = 3").count()
    assert abs(n3 - 600) < 120  # ~30% of 2000
    assert frac.groupBy("doc_id").count().filter("count NOT IN (2,3)").count() == 0

    part = epoch_upsample(df, "doc_id", 0.4)
    n = part.count()
    assert abs(n - 800) < 150 and part.select("epoch_idx").distinct().count() == 1

    with pytest.raises(ValueError, match="epochs"):
        epoch_upsample(df, "doc_id", 0.0)


def test_cluster_representatives_keep_best(spark):
    """Survivor per cluster is argmax(score) with min-id tiebreak;
    singletons always survive; bodies of the cluster die."""
    from taxi_rides_ny_duckdb_spark.operators.dedup import (
        cluster_representatives,
    )

    docs = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (4, 0.1), (5, 0.7)],
        ["doc_id", "q"],
    )
    # cluster {1,2,3} (2 and 3 tie at 0.9 → keep 2); {4} and {5} singletons
    edges = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    got = {
        (r["component"], r["doc_id"], r["q"])
        for r in cluster_representatives(docs, edges, "doc_id", "q").collect()
    }
    assert got == {(1, 2, 0.9), (4, 4, 0.1), (5, 5, 0.7)}


def test_cluster_representatives_ambiguous_id_col(spark):
    """ADVICE r6: id_col='id' used to make the join condition
    ambiguous between the component frame and the score frame; the
    aliased score frame must resolve it."""
    from taxi_rides_ny_duckdb_spark.operators.dedup import (
        cluster_representatives,
    )

    docs = spark.createDataFrame([(1, 0.5), (2, 0.9), (3, 0.1)], ["id", "q"])
    edges = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    got = {
        (r["component"], r["id"], r["q"])
        for r in cluster_representatives(docs, edges, "id", "q").collect()
    }
    assert got == {(1, 2, 0.9), (3, 3, 0.1)}


def test_star_components_truncated_iteration_unique_per_id(spark, monkeypatch):
    """ADVICE r6: with too few rounds for convergence, the final
    per-id canonicalization must still emit exactly ONE (id, component)
    row per id (previously duplicate rows could leak out silently)."""
    from pyspark.sql import Row

    from taxi_rides_ny_duckdb_spark.operators import dedup
    from taxi_rides_ny_duckdb_spark.operators.dedup import connected_components

    # long chain: needs several star rounds; one round truncates.
    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", 0)
    monkeypatch.setattr(dedup, "_CC_MAX_ROUNDS", 1)
    edges = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(20)],
        schema="id_a bigint, id_b bigint",
    )
    out = connected_components(edges).collect()
    ids = [r["id"] for r in out]
    assert len(ids) == len(set(ids)) == 21


def test_profile_correlation_exact_and_null_pairwise(spark):
    """corr=±1 on perfectly linear columns; the exact-decimal moments
    match numpy corrcoef on noisy data to 1e-9; a pair contributes only
    rows where BOTH sides are non-null (corr() semantics)."""
    import numpy as np

    from taxi_rides_ny_duckdb_spark.plans.profile import profile_correlation

    xs = [float(i) for i in range(100)]
    noisy = [x * 0.7 + ((x * 37) % 11) for x in xs]
    rows = [(x, 2 * x, -x + 5, nz) for x, nz in zip(xs, noisy)]
    df = spark.createDataFrame(rows, ["x", "y2", "yneg", "ynoise"])
    got = {
        (r["col_x"], r["col_y"]): r["corr_r"]
        for r in profile_correlation(
            df, [("x", "y2"), ("x", "yneg"), ("x", "ynoise")]
        ).collect()
    }
    assert got[("x", "y2")] == 1.0
    assert got[("x", "yneg")] == -1.0
    want = float(np.corrcoef(xs, noisy)[0, 1])
    assert abs(got[("x", "ynoise")] - want) < 1e-9

    # null pair-wise semantics: nulling one side drops the row for
    # that pair only — corr over the remaining rows
    rows2 = [(1.0, 1.0), (2.0, 4.0), (3.0, None), (4.0, 16.0), (5.0, 20.0)]
    df2 = spark.createDataFrame(rows2, ["a", "b"])
    got2 = profile_correlation(df2, [("a", "b")]).collect()[0]["corr_r"]
    kept = [(a, b) for a, b in rows2 if b is not None]
    want2 = float(np.corrcoef([a for a, _ in kept], [b for _, b in kept])[0, 1])
    assert abs(got2 - want2) < 1e-9


def test_mixture_sample_token_weighted_budget(spark):
    """With weight_col, the binding stratum is the one short on TOKENS:
    few huge docs beat many small ones. Composition of the sampled
    token mass approximates the target shares."""
    from pyspark.sql import functions as SF

    from taxi_rides_ny_duckdb_spark.operators.sampling import mixture_sample

    rows = (
        [(i, "en", 10) for i in range(3000)]          # 30k tokens
        + [(10_000 + i, "de", 1000) for i in range(30)]  # 30k tokens, 30 docs
    )
    df = spark.createDataFrame(rows, ["doc_id", "lang", "n_tokens"])
    # Doc-count mixing at 50/50 would cap on de's 30 DOCS (n_out=60);
    # token mixing sees equal budgets → everything kept (f=1 both).
    out = mixture_sample(
        df, "doc_id", "lang", {"en": 0.5, "de": 0.5}, weight_col="n_tokens"
    )
    assert out.count() == 3030
    # Unequal budgets: en 30k vs de 3k tokens at 50/50 → de binds,
    # W_out = 6k, en keeps ~3k of 30k tokens (f=0.1), de keeps all.
    rows2 = (
        [(i, "en", 10) for i in range(3000)]
        + [(10_000 + i, "de", 100) for i in range(30)]
    )
    df2 = spark.createDataFrame(rows2, ["doc_id", "lang", "n_tokens"])
    out2 = mixture_sample(
        df2, "doc_id", "lang", {"en": 0.5, "de": 0.5}, weight_col="n_tokens"
    )
    toks = {
        r["lang"]: r["t"]
        for r in out2.groupBy("lang").agg(SF.sum("n_tokens").alias("t")).collect()
    }
    assert toks["de"] == 3000
    assert abs(toks["en"] - 3000) < 600  # hash draw at f=0.1 over 3000 docs


def test_robust_normalize_per_stratum(spark):
    """z = (v - median)/IQR within each stratum; constant strata → 0."""
    from taxi_rides_ny_duckdb_spark.operators.cleaning import robust_normalize

    rows = (
        [(i, "a", float(v)) for i, v in enumerate([1, 2, 3, 4, 5])]
        + [(10 + i, "b", 7.0) for i in range(4)]  # zero IQR
    )
    df = spark.createDataFrame(rows, ["doc_id", "lang", "q"])
    got = {r["doc_id"]: r["z"] for r in
           robust_normalize(df, "q", "lang").collect()}
    # stratum a: median 3, IQR = 4 - 2 = 2 → z = (v-3)/2
    assert got[0] == -1.0 and got[2] == 0.0 and got[4] == 1.0
    assert all(got[10 + i] == 0.0 for i in range(4))


def test_leakage_safe_split_group_integrity(spark):
    """Every member of a connected near-dup cluster gets the SAME split
    label; singletons split independently; proportions are plausible."""
    from taxi_rides_ny_duckdb_spark.operators.sampling import (
        leakage_safe_split,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(500)], ["doc_id"]
    )
    # chain clusters {0..4}, {10,11}, rest singletons
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    out = leakage_safe_split(
        docs, edges, "doc_id", {"train": 0.8, "val": 0.2}
    ).collect()
    by_id = {r["doc_id"]: (r["component"], r["split"]) for r in out}
    assert len(by_id) == 500
    # cluster members share component AND split
    assert len({by_id[i] for i in range(5)}) == 1
    assert by_id[10] == by_id[11]
    n_train = sum(1 for v in by_id.values() if v[1] == "train")
    assert 330 < n_train < 470  # ~80% of ~495 split units
    # determinism
    again = {r["doc_id"]: r["split"] for r in leakage_safe_split(
        docs, edges, "doc_id", {"train": 0.8, "val": 0.2}).collect()}
    assert all(again[i] == by_id[i][1] for i in by_id)


def _ref_hash_fraction(id_, salt):
    """``sampling.hash_fraction`` replayed as ``hash_fraction_sql``
    spells it: the first 32 bits of md5(salt || ':' || id) over 2³²."""
    import hashlib

    h = hashlib.md5(f"{salt}:{id_}".encode()).hexdigest()
    return int(h[:8], 16) / 4294967296.0


def _ref_top_per_group(rows, cap, key):
    """{(id, group)} of the ``cap`` rows with the smallest
    ``(key(row), id)`` per group (NULL is a group) — the window order of
    ``sampling._keyed_top_per_group``; rows are (id, group, ...)."""
    groups = {}
    for r in rows:
        groups.setdefault(r[1], []).append(r)
    return {
        (r[0], g)
        for g, rs in groups.items()
        for r in sorted(rs, key=lambda r: (key(r), r[0]))[:cap]
    }


def test_cap_per_group_limits_and_stability(spark):
    """Groups above the cap shrink to exactly cap rows; below-cap
    groups pass through whole; survivors are deterministic and stable
    under append (a new doc displaces at most one old survivor)."""
    import pytest

    from taxi_rides_ny_duckdb_spark.operators.sampling import cap_per_group

    rows = [(i, "big") for i in range(500)] + [(1000 + i, "small") for i in range(5)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = cap_per_group(df, "doc_id", "lang", 50)
    sizes = {r["lang"]: r["n"] for r in
             out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sizes == {"big": 50, "small": 5}
    before = {r["doc_id"] for r in out.filter("lang = 'big'").collect()}
    # append one new doc: survivor set changes by at most one swap
    df2 = df.union(spark.createDataFrame([(9999, "big")], ["doc_id", "lang"]))
    after = {r["doc_id"] for r in
             cap_per_group(df2, "doc_id", "lang", 50).filter("lang = 'big'").collect()}
    assert len(before - after) <= 1 and len(after) == 50
    with pytest.raises(ValueError, match="cap"):
        cap_per_group(df, "doc_id", "lang", 0)


def test_cap_per_group_two_level_equivalence_and_skew(spark):
    """VERDICT r6 #2: the two-level form (per-partition Arrow pre-prune
    before the exchange, then the exact global window) must return the
    IDENTICAL row set as a pure-Python replay of the (hash, id) order —
    including on a skew fixture where one group holds 50 % of all rows
    spread over many partitions (the case that serializes a
    single-window plan), on null group keys, and on below-cap groups.
    The pre-prune must also actually bound what the exchange carries."""
    from taxi_rides_ny_duckdb_spark.operators.sampling import cap_per_group

    # skewed: 'hot' = 50% of rows, spread across 16 partitions; plus a
    # below-cap group and a NULL group.
    rows = (
        [(i, "hot") for i in range(4000)]
        + [(10_000 + i, f"g{i % 40}") for i in range(3990)]
        + [(90_000 + i, None) for i in range(10)]
    )
    df = spark.createDataFrame(rows, "doc_id bigint, lang string").repartition(16)
    cap = 25
    two = cap_per_group(df, "doc_id", "lang", cap)
    got_two = {(r["doc_id"], r["lang"]) for r in two.collect()}
    assert got_two == _ref_top_per_group(
        rows, cap, lambda r: _ref_hash_fraction(r[0], "cap")
    )
    assert sum(1 for _, g in got_two if g == "hot") == cap
    assert sum(1 for _, g in got_two if g is None) == 10  # below-cap null group intact

    # plan: the Arrow pre-prune sits below the window's exchange
    plan = two._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert plan.index("Exchange") < plan.index("MapInPandas"), (
        "pre-prune must run BEFORE (deeper than) the window exchange"
    )


def test_hard_negative_topk_excludes_own_cluster(spark):
    """The query's near-dups (same component, incl. itself) never
    appear; the top hard negative is the most similar OUT-of-cluster
    vector."""
    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        hard_negative_topk,
    )

    # 4-dim toy: q=e1; dup ~e1 (same cluster); hard ~0.9-sim e1-ish
    # (different cluster); easy = orthogonal e2.
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # query
        (1, [0.99, 0.14, 0.0, 0.0]), # near-dup of 0 → same cluster
        (2, [0.9, 0.43, 0.0, 0.0]),  # hard negative (own cluster)
        (3, [0.0, 1.0, 0.0, 0.0]),   # easy negative
    ]
    corpus = spark.createDataFrame(
        [(i, v) for i, v in vecs], ["vec_id", "embedding"]
    )
    comp = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 2), (3, 3)], ["id", "component"]
    )
    queries = spark.createDataFrame(
        [(0, vecs[0][1])], ["query_id", "query_vec"]
    )
    got = hard_negative_topk(corpus, queries, comp, k=2).collect()
    ids = [r["vec_id"] for r in sorted(got, key=lambda r: r["rank"])]
    assert ids == [2, 3]            # dup (1) and self (0) excluded
    assert got[0]["cosine_sim_r"] < 1.0


def test_hard_negative_topk_mapping_components_match_full(spark):
    """An ``emit="mapping"`` component frame (edge-touched ids only)
    yields row-identical output to the full frame: absent ids resolve
    to their own singleton component via the left join + coalesce
    (r13). Covers BOTH consumers (exact and ANN) and includes corpus
    ids and a query id absent from the mapping."""
    from taxi_rides_ny_duckdb_spark.contract_ivf_centroids import IVF_CENTROIDS
    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        hard_negative_topk,
        hard_negative_topk_ann,
    )

    dim = len(IVF_CENTROIDS[0])
    vecs = [
        (0, [1.0, 0.0] + [0.0] * (dim - 2)),
        (1, [0.99, 0.14] + [0.0] * (dim - 2)),   # near-dup of 0
        (2, [0.9, 0.43] + [0.0] * (dim - 2)),
        (3, [0.0, 1.0] + [0.0] * (dim - 2)),
        (4, [0.1, 0.99] + [0.0] * (dim - 2)),    # query absent from mapping
    ]
    corpus = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    queries = spark.createDataFrame(
        [(0, vecs[0][1]), (4, vecs[4][1])], ["query_id", "query_vec"]
    )
    full = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 2), (3, 3), (4, 4)], ["id", "component"]
    )
    mapping = spark.createDataFrame([(0, 0), (1, 0)], ["id", "component"])

    for op in (
        lambda c, q, cp: hard_negative_topk(c, q, cp, k=3),
        lambda c, q, cp: hard_negative_topk_ann(
            c, q, cp, k=3, centroids=IVF_CENTROIDS, nprobe=2
        ),
    ):
        got_full = sorted(
            op(corpus, queries, full).collect(),
            key=lambda r: (r["query_id"], r["rank"]),
        )
        got_map = sorted(
            op(corpus, queries, mapping).collect(),
            key=lambda r: (r["query_id"], r["rank"]),
        )
        assert got_full == got_map
        assert got_full  # non-empty


def test_hard_negative_ann_recall_and_exclusion(spark, sf_dir):
    """Certification of the ANN-backed hard-negative path (VERDICT r6
    #1) against the exact ground-truth path via ann_recall_at_k:
    (a) every mined negative is OUTSIDE its query's near-dup component
    (the exclusion guarantee is exact, not approximate), (b) every
    score is a genuine cosine from the exact ranking, and (c) recall@5
    of the IVF-candidate path clears 0.5 with 2/8 lists probed —
    the bar that justifies swapping it in for large query sets."""
    from taxi_rides_ny_duckdb_spark.contract_ivf_centroids import IVF_CENTROIDS
    from taxi_rides_ny_duckdb_spark.operators.dedup import connected_components
    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        ann_recall_at_k,
        cosine_given_norms,
        hard_negative_topk,
        hard_negative_topk_ann,
        l2_norm,
    )
    from taxi_rides_ny_duckdb_spark.sources.registry import load

    v = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 100)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("ev"))
        .withColumn("nrm", l2_norm(F.col("ev")))
    )
    a = v.select(F.col("vec_id").alias("id_a"), F.col("ev").alias("av"), F.col("nrm").alias("na"))
    b = v.select(F.col("vec_id").alias("id_b"), F.col("ev").alias("bv"), F.col("nrm").alias("nb"))
    pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(
                cosine_given_norms(F.col("av"), F.col("bv"), F.col("na"), F.col("nb")), 9
            ).alias("sim"),
        )
        .filter(F.col("sim") >= 0.3)
    )
    comp = connected_components(pairs, "id_a", "id_b", nodes=v.select("vec_id"))
    queries = v.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("ev").alias("query_vec")
    )
    corpus = v.select("vec_id", F.col("ev").alias("embedding"))
    exact = hard_negative_topk(corpus, queries, comp, k=5)
    ann = hard_negative_topk_ann(
        corpus, queries, comp, k=5, centroids=IVF_CENTROIDS, nprobe=2
    )

    comp_map = {r["id"]: r["component"] for r in comp.collect()}
    ann_rows = ann.collect()
    assert ann_rows, "ANN path returned no negatives"
    for r in ann_rows:  # (a) exclusion is exact
        assert comp_map[r["vec_id"]] != comp_map[r["query_id"]]

    exact_scores = {
        (r["query_id"], r["vec_id"]): r["cosine_sim_r"]
        for r in hard_negative_topk(corpus, queries, comp, k=10**6).collect()
    }
    for r in ann_rows:  # (b) re-scoring is exact
        assert abs(exact_scores[(r["query_id"], r["vec_id"])] - r["cosine_sim_r"]) < 1e-12

    rec = ann_recall_at_k(ann, exact, k=5)
    mean_recall = rec.agg(F.avg("recall_at_k")).collect()[0][0]
    assert mean_recall >= 0.5, f"ANN hard-negative recall@5 too low: {mean_recall}"


def test_corpus_shuffle_permutation_determinism_and_epochs(spark):
    """corpus_shuffle: positions are exactly the permutation 0..n-1;
    the order is a pure function of content (identical under a
    different physical partitioning); with epoch_col, a document's
    copies land at independent positions (epochs interleave instead
    of replaying back-to-back)."""
    from taxi_rides_ny_duckdb_spark.operators.sampling import (
        corpus_shuffle,
        epoch_upsample,
    )

    df = spark.createDataFrame([(i,) for i in range(500)], ["doc_id"])
    out = corpus_shuffle(df, "doc_id", n_buckets=16)
    pos = sorted(r["shuffle_pos"] for r in out.collect())
    assert pos == list(range(500))

    repart = corpus_shuffle(df.repartition(7), "doc_id", n_buckets=16)
    a = {r["doc_id"]: r["shuffle_pos"] for r in out.collect()}
    b = {r["doc_id"]: r["shuffle_pos"] for r in repart.collect()}
    assert a == b

    # not the identity / sorted order (it actually shuffles)
    ids_in_order = [d for d, _ in sorted(a.items(), key=lambda kv: kv[1])]
    assert ids_in_order != sorted(ids_in_order)

    two = epoch_upsample(df, "doc_id", 2.0)
    shuffled = corpus_shuffle(two, "doc_id", epoch_col="epoch_idx", n_buckets=16)
    rows = shuffled.collect()
    assert sorted(r["shuffle_pos"] for r in rows) == list(range(1000))
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["shuffle_pos"])
    adjacent = sum(1 for ps in by_doc.values() if abs(ps[0] - ps[1]) == 1)
    assert adjacent < 50  # copies interleave, not replay back-to-back


def test_profile_key_skew_counts_shares_and_null_label(spark):
    """profile_key_skew: heavy hitters ranked by count desc then key
    asc, shares against the column total, NULL keys surfaced as
    '<NULL>', distinct count includes the null bucket."""
    from taxi_rides_ny_duckdb_spark.plans.profile import profile_key_skew

    rows = (
        [("hot", 1)] * 60 + [("warm", 1)] * 30
        + [(None, 1)] * 6 + [("a", 1)] * 2 + [("b", 1)] * 2
    )
    df = spark.createDataFrame(rows, ["k", "v"])
    got = {
        r["rank"]: (r["key_value"], r["n"], r["n_distinct"], r["share_r"])
        for r in profile_key_skew(df, ["k"], top_k=3).collect()
    }
    assert got[1] == ("hot", 60, 5, 0.6)
    assert got[2] == ("warm", 30, 5, 0.3)
    assert got[3] == ("<NULL>", 6, 5, 0.06)
    assert len(got) == 3


def test_remove_duplicated_spans_semantics(spark):
    """Cross-doc spans removed everywhere; within-doc repetition alone
    survives; short tails never blacklisted; empty / fully-removed docs
    come back with clean_text='' (r7 boilerplate-removal operator)."""
    from taxi_rides_ny_duckdb_spark.operators.cleaning import (
        remove_duplicated_spans,
    )

    boiler = "subscribe to our newsletter now"[:0]  # readability anchor
    rows = [
        # docs 1 and 2 share span tokens [nav bar menu foot] at the
        # FRONT; unique continuations after
        (1, "nav bar menu foot alpha beta gamma delta x y"),
        (2, "nav bar menu foot epsilon zeta eta theta p q"),
        # doc 3: within-doc repetition of a span no other doc has
        (3, "solo solo solo solo solo solo solo solo"),
        # doc 4: empty text
        (4, ""),
        # docs 5 and 6: identical SHORT docs (3 tokens < span width) —
        # tail spans are not blacklist-eligible
        (5, "tiny tail doc"),
        (6, "tiny tail doc"),
        # doc 7: every span shared with doc 1 (prefix copy) → fully removed? no —
        # only the 4-token-aligned spans it shares
        (7, "nav bar menu foot"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in remove_duplicated_spans(
            df, "text", "doc_id", span_tokens=4, min_dup_docs=2
        ).collect()
    }
    assert len(out) == 7  # every input doc present
    # the shared boilerplate span is gone from all three carriers
    assert out[1]["clean_text"] == "alpha beta gamma delta x y"
    assert out[2]["clean_text"] == "epsilon zeta eta theta p q"
    assert out[7]["clean_text"] == ""  # doc was ONLY boilerplate
    assert out[1]["n_spans"] == 3 and out[1]["n_removed"] == 1
    assert out[7]["n_spans"] == 1 and out[7]["n_removed"] == 1
    # within-doc repetition alone never triggers removal ("solo"×8 =
    # two identical full spans, but only ONE distinct doc)
    assert out[3]["clean_text"] == rows[2][1]
    assert out[3]["n_removed"] == 0
    # short identical docs: tail spans ineligible
    assert out[5]["clean_text"] == "tiny tail doc"
    assert out[6]["n_removed"] == 0
    # empty doc round-trips
    assert out[4]["clean_text"] == "" and out[4]["n_spans"] == 0
    assert boiler == ""


def test_remove_duplicated_spans_order_preserved(spark):
    """Kept spans rebuild in original position order even when the
    removed ones interleave."""
    from taxi_rides_ny_duckdb_spark.operators.cleaning import (
        remove_duplicated_spans,
    )

    # span width 2: docs share spans (b b) and (d d); doc 8 keeps
    # (a a) and (c c) in order around the removals
    rows = [
        (8, "a a b b c c d d e e"),
        (9, "b b d d"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in remove_duplicated_spans(
            df, "text", "doc_id", span_tokens=2, min_dup_docs=2
        ).collect()
    }
    assert out[8]["clean_text"] == "a a c c e e"
    assert out[8]["n_spans"] == 5 and out[8]["n_removed"] == 2
    assert out[9]["clean_text"] == "" and out[9]["n_removed"] == 2


def test_remove_duplicated_spans_validates_params(spark):
    from taxi_rides_ny_duckdb_spark.operators.cleaning import (
        remove_duplicated_spans,
    )

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        remove_duplicated_spans(df, "text", "doc_id", span_tokens=0)
    with pytest.raises(ValueError):
        remove_duplicated_spans(df, "text", "doc_id", min_dup_docs=1)


def test_quantized_cosine_error_bound_and_recall(spark, sf_dir):
    """int8-quantized cosine stays within a small absolute error of the
    exact cosine on real embeddings, and quantized top-5 recall vs the
    float path is high (SQ8 certification, r7)."""
    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        ann_recall_at_k,
        brute_force_topk,
        quantized_topk,
    )
    from taxi_rides_ny_duckdb_spark.sources.registry import load

    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = brute_force_topk(emb, queries, k=5)
    quant = quantized_topk(emb, queries, k=5)
    # error bound: compare scores on the pairs BOTH paths ranked
    joined = exact.join(
        quant.select("query_id", "vec_id", "qcos_r"), ["query_id", "vec_id"]
    ).select((F.abs(F.col("cosine_sim") - F.col("qcos_r"))).alias("err"))
    max_err = joined.agg(F.max("err")).first()[0]
    assert max_err is not None and max_err < 0.02  # 64-dim int8 scan
    recall = ann_recall_at_k(quant, exact, k=5)
    mean_recall = recall.agg(F.avg("recall_at_k")).first()[0]
    assert mean_recall > 0.9


def test_quantize_int8_zero_vector_total(spark):
    """All-zero vector: scale falls back to 1.0, q is all zeros, and
    quantized cosine against it is 0.0 (ranking stays total)."""
    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        int8_scale,
        quantize_int8,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])], ["id", "v"]
    )
    got = df.select(
        "id",
        int8_scale(F.col("v")).alias("s"),
        quantize_int8(F.col("v"), int8_scale(F.col("v"))).alias("q"),
    ).collect()
    by_id = {r["id"]: r for r in got}
    assert by_id[1]["s"] == 1.0 and by_id[1]["q"] == [0, 0, 0]
    assert by_id[2]["s"] == pytest.approx(2.0 / 127.0)
    assert by_id[2]["q"] == [64, -127, 32]  # round-half-up: 63.5 → 64


def test_write_sorted_runs_layout(spark, tmp_path):
    """Runs tile the position space in order, each run directory holds
    ONE file, and rows within a file are position-sorted (r7 export)."""
    from pyspark.sql.window import Window

    from taxi_rides_ny_duckdb_spark.operators.scale import write_sorted_runs

    n = 100
    df = spark.createDataFrame(
        [(i, (i * 37) % n) for i in range(n)], ["pos", "payload"]
    )
    out = str(tmp_path / "runs")
    write_sorted_runs(df, "pos", 4, out, total_rows=n)
    back = spark.read.parquet(out).withColumn("f", F.input_file_name())
    # one file per run
    files = back.groupBy("run").agg(F.count_distinct("f").alias("nf")).collect()
    assert len(files) == 4 and all(r["nf"] == 1 for r in files)
    # runs tile [0,100) evenly and in order
    stats = {
        r["run"]: (r["lo"], r["hi"], r["c"])
        for r in back.groupBy("run")
        .agg(F.min("pos").alias("lo"), F.max("pos").alias("hi"), F.count("*").alias("c"))
        .collect()
    }
    assert stats == {0: (0, 24, 25), 1: (25, 49, 25), 2: (50, 74, 25), 3: (75, 99, 25)}
    # within-file sortedness: parquet row order == pos order
    w = Window.partitionBy("f").orderBy(F.monotonically_increasing_id())
    viol = (
        spark.read.parquet(out)
        .withColumn("f", F.input_file_name())
        .withColumn("prev", F.lag("pos").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("prev") > F.col("pos")))
        .count()
    )
    assert viol == 0


def test_write_sorted_runs_sparse_and_empty(spark, tmp_path):
    """More runs than rows → gaps are fine but order still holds; and
    n_runs must be positive."""
    from taxi_rides_ny_duckdb_spark.operators.scale import write_sorted_runs

    df = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], ["pos", "x"])
    out = str(tmp_path / "sparse")
    write_sorted_runs(df, "pos", 8, out, total_rows=3)
    back = spark.read.parquet(out)
    rows = sorted((r["run"], r["pos"]) for r in back.collect())
    assert rows == [(0, 0), (2, 1), (5, 2)]  # floor(pos*8/3)
    with pytest.raises(ValueError):
        write_sorted_runs(df, "pos", 0, str(tmp_path / "zero"))


def test_incremental_minhash_dedup_matches_history(spark, near_dup_docs):
    """Batch docs match their history near-dup/copy sources; history is
    never paired with itself; a tiny bucket cap drops boilerplate
    buckets (r7 incremental-ingest operator)."""
    from taxi_rides_ny_duckdb_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_signatures,
    )

    history = near_dup_docs.filter(F.col("doc_id") < 100)
    batch = near_dup_docs.filter(F.col("doc_id") >= 100)
    hsigs = minhash_signatures(history, "text", "doc_id")
    out = incremental_minhash_dedup(
        batch, hsigs, "text", "doc_id", threshold=0.5
    ).collect()
    got = {(r["batch_id"], r["history_id"]) for r in out}
    # exact copies always land on their source
    for i in range(5):
        assert (200 + i, 30 + i) in got
    # near-dups (one word changed in 40) mostly recalled
    near_hits = sum((100 + i, i) in got for i in range(20))
    assert near_hits >= 15
    # every pair is batch × history — never history × history
    assert all(b >= 100 and h < 100 for b, h in got)
    # jaccard threshold respected
    assert all(r["jaccard_sim"] >= 0.5 for r in out)
    # cap=0-ish: every history bucket oversized → no candidates at all
    none = incremental_minhash_dedup(
        batch, hsigs, "text", "doc_id", threshold=0.5, max_history_bucket=0
    )
    assert none.count() == 0


def test_snapshot_diff_statuses_and_nulls(spark):
    """All four statuses; NULL and '' fingerprint differently (the
    dbt sentinel recipe)."""
    from taxi_rides_ny_duckdb_spark.plans.snapshots import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", None), (3, "c", "z"), (4, "d", "w")],
        ["k", "v1", "v2"],
    )
    new = spark.createDataFrame(
        [(2, "b", ""), (3, "c", "z"), (4, "D", "w"), (5, "e", "u")],
        ["k", "v1", "v2"],
    )
    out = {r["k"]: r for r in snapshot_diff(old, new, "k", ("v1", "v2")).collect()}
    assert out[1]["status"] == "removed" and out[1]["new_fingerprint"] is None
    assert out[2]["status"] == "changed"  # NULL → '' is a change
    assert out[3]["status"] == "unchanged"
    assert out[3]["old_fingerprint"] == out[3]["new_fingerprint"]
    assert out[4]["status"] == "changed"
    assert out[5]["status"] == "added" and out[5]["old_fingerprint"] is None


def test_incremental_dedup_equals_full_cross_pairs(spark, near_dup_docs):
    """incremental_minhash_dedup(history, batch) == the cross-boundary
    pairs of the full minhash_lsh_dedup_pairs over history ∪ batch
    (same scheme, no salting) — incrementality changes WHAT is paired,
    never the pairing function."""
    from taxi_rides_ny_duckdb_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_lsh_dedup_pairs,
        minhash_signatures,
    )

    history = near_dup_docs.filter(F.col("doc_id") < 100)
    batch = near_dup_docs.filter(F.col("doc_id") >= 100)
    hsigs = minhash_signatures(history, "text", "doc_id")
    incr = {
        (r["history_id"], r["batch_id"], round(r["jaccard_sim"], 9))
        for r in incremental_minhash_dedup(
            batch, hsigs, "text", "doc_id", threshold=0.5
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"], round(r["jaccard_sim"], 9))
        for r in minhash_lsh_dedup_pairs(
            near_dup_docs, "text", "doc_id", threshold=0.5, max_bucket_size=2**31
        ).collect()
        if r["id_a"] < 100 <= r["id_b"]  # cross-boundary only
    }
    assert incr == full and len(full) > 0


def test_corpus_datacard_values(spark):
    """Datacard aggregates on a corpus with known makeup: counts,
    token totals, dominant-language share (lexicographic tie-break),
    within-source exact-dup accounting, zero-dup sources report 0."""
    from taxi_rides_ny_duckdb_spark.plans.profile import corpus_datacard

    rows = [
        # src_a: 3 docs — two exact copies + one unique; langs en,en,fr
        (1, "the cat sat", "en", "src_a"),
        (2, "the cat sat", "en", "src_a"),
        (3, "le chat", "fr", "src_a"),
        # src_b: 2 docs, tie between langs de and en → 'de' wins tie
        (4, "hund", "de", "src_b"),
        (5, "dog", "en", "src_b"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    out = {
        r["source"]: r
        for r in corpus_datacard(df, "source", "lang", "text", "doc_id").collect()
    }
    a, b = out["src_a"], out["src_b"]
    assert a["n_docs"] == 3 and a["total_tokens"] == 3 + 3 + 2
    assert a["n_langs"] == 2
    assert a["top_lang"] == "en" and a["top_lang_share_r"] == pytest.approx(2 / 3)
    assert a["exact_dup_docs"] == 2  # both copies count
    assert b["n_docs"] == 2 and b["top_lang"] == "de"  # tie → lexicographic
    assert b["top_lang_share_r"] == 0.5
    assert b["exact_dup_docs"] == 0
    assert 0.0 <= a["avg_quality_r"] <= 1.0


def test_ivf_sq8_quantization_costs_no_recall(spark, sf_dir):
    """The right decomposition of IVF-SQ8's two approximations: the
    candidate restriction (probe 2 of 8 lists) is shared with float
    IVF, so SQ8's recall vs brute force must MATCH float IVF's — and
    SQ8's top-5 vs float IVF's top-5 must be ≥0.9 (int8 scoring
    reorders at most a near-tie). On this fixture both hold exactly
    (mutual recall 1.0): quantization costs zero here (r7)."""
    from taxi_rides_ny_duckdb_spark.contract_ivf_centroids import IVF_CENTROIDS
    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        ann_recall_at_k,
        brute_force_topk,
        ivf_quantized_topk,
        ivf_topk,
    )
    from taxi_rides_ny_duckdb_spark.sources.registry import load

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = brute_force_topk(emb, queries, k=5)
    flt = ivf_topk(emb, queries, k=5, centroids=IVF_CENTROIDS, nprobe=2)
    sq8 = ivf_quantized_topk(emb, queries, k=5, centroids=IVF_CENTROIDS, nprobe=2)
    r_flt = ann_recall_at_k(flt, exact, k=5).agg(F.avg("recall_at_k")).first()[0]
    r_sq8 = ann_recall_at_k(sq8, exact, k=5).agg(F.avg("recall_at_k")).first()[0]
    assert r_sq8 >= r_flt - 0.05  # quantization adds ~nothing on top of probing
    r_mutual = (
        ann_recall_at_k(sq8, flt.withColumnRenamed("cosine_sim", "s"), k=5)
        .agg(F.avg("recall_at_k"))
        .first()[0]
    )
    assert r_mutual >= 0.9


def test_weighted_sample_semantics_and_two_level_equivalence(spark):
    """ES weighted sampling: two-level output equals a pure-Python
    replay of the rounded draw order exactly; zero/negative/null
    weights are excluded; heavier rows win systematically over light
    ones at equal hash position; deterministic across calls (r7)."""
    from taxi_rides_ny_duckdb_spark.functions.parity import (
        PARITY_DP,
        round_half_up,
    )
    from taxi_rides_ny_duckdb_spark.operators.sampling import (
        weighted_sample_per_group,
    )

    rows = [(i, "g", float(1 + (i % 2) * 999)) for i in range(200)]
    rows += [(900, "g", 0.0), (901, "g", -3.0), (902, "g", None)]
    df = spark.createDataFrame(rows, "id bigint, grp string, w double")
    two = weighted_sample_per_group(df, "id", "grp", 20, "w")
    got2 = sorted(r["id"] for r in two.collect())
    want = _ref_top_per_group(
        [r for r in rows if r[2] is not None and r[2] > 0],
        20,
        lambda r: -round_half_up(
            _ref_hash_fraction(r[0], "wsample") ** (1.0 / r[2]), PARITY_DP
        ),
    )
    assert got2 == sorted(i for i, _ in want) and len(got2) == 20
    # ineligible weights never appear
    assert not {900, 901, 902} & set(got2)
    # heavy rows (w=1000, odd ids) dominate: u^(1/1000) ≈ 1 beats
    # u^(1/1) = u for all but extreme u
    heavy = sum(i % 2 == 1 for i in got2)
    assert heavy >= 18
    # deterministic rerun
    again = sorted(r["id"] for r in weighted_sample_per_group(
        df, "id", "grp", 20, "w").collect())
    assert again == got2
    with pytest.raises(ValueError):
        weighted_sample_per_group(df, "id", "grp", 0, "w")


# ---------------------------------------------------------------------------
# Mergeable HLL distinct-count sketches (operators/sketch)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def sharded_values(spark):
    """12 monthly shards × values with cross-shard overlap: value v
    appears in month m iff v % 12 <= m — so every value overlaps many
    shards and the union MUST de-duplicate across shards to agree
    with the exact distinct. 3000 distinct values, deterministic."""
    rows = [
        (f"2024-{m + 1:02d}-01", v)
        for v in range(3000)
        for m in range(12)
        if v % 12 <= m
    ]
    return spark.createDataFrame(rows, ["shard_day", "value"]).select(
        F.to_timestamp("shard_day").alias("shard_ts"), "value"
    )


def test_sketch_union_matches_direct_and_exact(sharded_values):
    """The merge claim: union-of-shard-sketches estimates the SAME
    population as one direct whole-table sketch — both within the
    published lgK=12 bound (RSE ~1.6%; 5σ = 8%) of the exact count,
    despite every value spanning multiple shards (union must
    de-duplicate, not add)."""
    from taxi_rides_ny_duckdb_spark.operators.sketch import (
        shard_distinct_sketches,
        sketch_rollup_estimate,
    )

    sk = shard_distinct_sketches(
        sharded_values, F.date_trunc("month", F.col("shard_ts")), "value"
    )
    assert sk.count() == 12
    uni = sketch_rollup_estimate(sk, lambda c: F.lit(1)).collect()[0]
    direct = sharded_values.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("value", 12)).alias("e")
    ).collect()[0]["e"]
    exact = 3000
    assert abs(uni["approx_distinct"] - exact) <= 0.08 * exact
    assert abs(direct - exact) <= 0.08 * exact
    # A non-deduplicating merge would land near sum(per-shard distinct)
    # = 19500, 6.5x over; assert we are nowhere near it.
    assert uni["approx_distinct"] < 6000
    assert uni["n_rows"] == sharded_values.count()


def test_sketch_rollup_guarded_green(sharded_values):
    """Guarded form on a 2-key rollup (H1/H2 half-years): exact counts
    match a reference groupBy, all guards true at default bound."""
    from taxi_rides_ny_duckdb_spark.operators.sketch import (
        sketch_rollup_guarded,
    )

    out = sketch_rollup_guarded(
        sharded_values,
        shard=F.date_trunc("month", F.col("shard_ts")),
        rollup_fn=lambda c: (F.quarter(c) <= 2).cast("int"),
        value_col="value",
    ).collect()
    assert len(out) == 2
    by_key = {r["rollup_key"]: r for r in out}
    # H1 (months 1-6, key 1): values with v%12 <= 5 ... every v has
    # v%12 <= 11 <= always in month 12; H1 holds v iff v%12 <= 5.
    exact_h1 = sum(1 for v in range(3000) if v % 12 <= 5)
    assert by_key[1]["exact_distinct"] == exact_h1
    assert by_key[0]["exact_distinct"] == 3000  # all values reach H2
    assert all(r["within_bound"] for r in out)
    assert by_key[1]["n_shards"] == 6 and by_key[0]["n_shards"] == 6


def test_sketch_rollup_estimate_plan_never_rescans(spark, sharded_values, tmp_path):
    """The 100 TB claim in plan form: given a MATERIALIZED sketch
    frame, the rollup's physical plan contains no join and exactly
    one aggregate pair over sketch rows — the fact table does not
    appear."""
    from taxi_rides_ny_duckdb_spark.operators.sketch import (
        shard_distinct_sketches,
        sketch_rollup_estimate,
    )

    sk = shard_distinct_sketches(
        sharded_values, F.date_trunc("month", F.col("shard_ts")), "value"
    )
    path = str(tmp_path / "sk")
    sk.write.mode("overwrite").parquet(path)
    rolled = sketch_rollup_estimate(
        spark.read.parquet(path), lambda c: F.year(c)
    )
    plan = rolled._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


# ---------------------------------------------------------------------------
# Z-order layout (operators/scale.zorder_*)
# ---------------------------------------------------------------------------


def test_zorder_key_matches_reference(spark):
    """Morton interleave vs an independent Python bit-loop, 2-dim and
    3-dim, including the >bit-31 positions that overflow int32."""
    import random

    from taxi_rides_ny_duckdb_spark.operators.scale import zorder_key

    rng = random.Random(11)
    pts = [(rng.randrange(65536), rng.randrange(65536), rng.randrange(65536))
           for _ in range(50)] + [(0, 0, 0), (65535, 65535, 65535)]

    def ref(vals, bits=16):
        z, n = 0, len(vals)
        for d, v in enumerate(vals):
            for i in range(bits):
                z |= ((v >> i) & 1) << (i * n + d)
        return z

    df = spark.createDataFrame(pts, ["x", "y", "w"])
    got2 = [r["z"] for r in df.select(
        zorder_key([F.col("x"), F.col("y")]).alias("z")).collect()]
    got3 = [r["z"] for r in df.select(
        zorder_key([F.col("x"), F.col("y"), F.col("w")]).alias("z")).collect()]
    assert got2 == [ref(p[:2]) for p in pts]
    assert got3 == [ref(p) for p in pts]


def test_zorder_layout_prunes_both_axes(spark, tmp_path):
    """The layout claim against real parquet footers: on a z-ordered
    rewrite, file-level min/max stats skip files for a predicate on
    EITHER axis; on an x-sorted rewrite only the x predicate skips.
    Uniform 256x256 grid, 16 files."""
    import pyarrow.parquet as pq
    import glob
    import itertools

    from taxi_rides_ny_duckdb_spark.operators.scale import zorder_write

    pts = list(itertools.product(range(256), range(256)))
    df = spark.createDataFrame(pts, ["x", "y"])

    zpath = str(tmp_path / "zorder")
    xpath = str(tmp_path / "xsort")
    zorder_write(df, ["x", "y"], zpath, n_files=16)
    (df.repartitionByRange(16, "x").sortWithinPartitions("x")
       .write.mode("overwrite").parquet(xpath))

    def skip_fraction(path, col, lo, hi):
        files = glob.glob(f"{path}/*.parquet")
        assert len(files) >= 8
        skipped = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            fmin = min(md.row_group(g).column(idx).statistics.min
                       for g in range(md.num_row_groups))
            fmax = max(md.row_group(g).column(idx).statistics.max
                       for g in range(md.num_row_groups))
            if fmax < lo or fmin > hi:
                skipped += 1
        return skipped / len(files)

    # y-selective predicate (y in one-eighth of the range)
    assert skip_fraction(zpath, "y", 0, 31) >= 0.5      # tiles prune
    assert skip_fraction(xpath, "y", 0, 31) == 0.0      # x-sort cannot
    # x-selective predicate: both layouts prune
    assert skip_fraction(zpath, "x", 0, 31) >= 0.5
    assert skip_fraction(xpath, "x", 0, 31) >= 0.8


# ---------------------------------------------------------------------------
# Mergeable histogram quantile rollup (operators/sketch)
# ---------------------------------------------------------------------------


def test_histogram_rollup_merge_equals_direct(spark, sharded_values):
    """Exact-mergeability: quantiles from 12 merged monthly histograms
    equal quantiles from one direct whole-population histogram —
    bin counts sum linearly, so the two paths produce the SAME merged
    bins and the SAME interpolated values, bit for bit."""
    from taxi_rides_ny_duckdb_spark.operators.sketch import (
        histogram_quantile_rollup,
        shard_histograms,
    )

    kw = dict(value_col="value", lo=0.0, hi=3000.0, n_bins=30)
    monthly = shard_histograms(
        sharded_values, F.date_trunc("month", F.col("shard_ts")), **kw
    )
    via_merge = histogram_quantile_rollup(
        monthly, lambda c: F.lit(1), [0.25, 0.5, 0.95],
        lo=0.0, hi=3000.0, n_bins=30,
    ).collect()[0]
    direct = histogram_quantile_rollup(
        shard_histograms(sharded_values, F.lit("all"), **kw),
        lambda c: F.lit(1), [0.25, 0.5, 0.95],
        lo=0.0, hi=3000.0, n_bins=30,
    ).collect()[0]
    assert via_merge["n_values"] == direct["n_values"]
    for c in ("p25_r", "p50_r", "p95_r"):
        assert via_merge[c] == direct[c]


def test_histogram_quantile_accuracy_and_clamping(spark):
    """Estimates land within one bin width of the exact percentile,
    and out-of-range values clamp into edge bins (no count lost)."""
    from taxi_rides_ny_duckdb_spark.operators.sketch import (
        histogram_quantile_rollup,
        shard_histograms,
    )

    # 0..999 uniform, plus outliers beyond both edges
    rows = [(i % 4, float(i)) for i in range(1000)]
    rows += [(0, -50.0), (1, 99999.0)]
    df = spark.createDataFrame(rows, ["g", "v"])
    hists = shard_histograms(df, F.col("g"), "v", lo=0.0, hi=1000.0, n_bins=20)
    out = histogram_quantile_rollup(
        hists, lambda c: F.lit(1), [0.5], lo=0.0, hi=1000.0, n_bins=20
    ).collect()[0]
    assert out["n_values"] == 1002          # outliers counted, not lost
    assert abs(out["p50_r"] - 500.0) <= 50.0  # within one bin width


# ---------------------------------------------------------------------------
# Mergeable per-shard top-K heavy-hitter summaries (operators/sketch)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def hh_frame(spark):
    """Two daily shards with hand-countable keys. Shard A: x×5 y×3 z×2
    w×1; shard B: z×4 y×2 x×1. With k=2, A keeps {x,y} and its
    residual bound is 2 (z's count — the first dropped key); B keeps
    {z,y}, residual 1 (x)."""
    rows = (
        [("2024-01-01", "x")] * 5
        + [("2024-01-01", "y")] * 3
        + [("2024-01-01", "z")] * 2
        + [("2024-01-01", "w")]
        + [("2024-01-02", "z")] * 4
        + [("2024-01-02", "y")] * 2
        + [("2024-01-02", "x")]
    )
    return spark.createDataFrame(rows, ["d", "key"]).select(
        F.to_timestamp("d").alias("ts"), "key"
    )


def test_shard_topk_summaries_kept_and_residual(hh_frame):
    """The artifact: exactly K kept rows per shard (deterministic
    tie-breaks), residual bound = the (K+1)-th count, 0 when nothing
    was dropped."""
    from taxi_rides_ny_duckdb_spark.operators.sketch import (
        shard_topk_summaries,
    )

    sk = shard_topk_summaries(
        hh_frame, F.date_trunc("day", F.col("ts")), "key", k=2
    ).collect()
    by_shard = {}
    for r in sk:
        by_shard.setdefault(str(r["shard"].date()), {})[r["key"]] = (
            r["n"],
            r["residual_bound"],
        )
    assert by_shard["2024-01-01"] == {"x": (5, 2), "y": (3, 2)}
    assert by_shard["2024-01-02"] == {"z": (4, 1), "y": (2, 1)}
    # k larger than the key count: everything kept, residual 0.
    from taxi_rides_ny_duckdb_spark.operators.sketch import topk_rollup

    sk_all = shard_topk_summaries(
        hh_frame, F.date_trunc("day", F.col("ts")), "key", k=10
    )
    assert {r["residual_bound"] for r in sk_all.collect()} == {0}
    # With nothing dropped the merge is exact: est_lo == est_hi.
    merged = topk_rollup(sk_all, lambda c: F.lit(1), n_top=10).collect()
    assert all(r["est_lo"] == r["est_hi"] for r in merged)


def test_topk_rollup_sandwich_and_ties(hh_frame):
    """Merged bounds against hand-computed exacts: x true 6 ∈ [5,6],
    y true 5 ∈ [5,5] (kept everywhere ⇒ tight), z true 6 ∈ [4,6];
    est_lo ties (x=5, y=5) break by key ASC."""
    from taxi_rides_ny_duckdb_spark.operators.sketch import (
        shard_topk_summaries,
        topk_rollup,
        topk_rollup_certified,
    )

    top = topk_rollup(
        shard_topk_summaries(hh_frame, F.date_trunc("day", F.col("ts")), "key", k=2),
        lambda c: F.lit(1),
        n_top=3,
    ).collect()
    got = {r["key"]: (r["rank"], r["est_lo"], r["est_hi"]) for r in top}
    assert got == {"x": (1, 5, 6), "y": (2, 5, 5), "z": (3, 4, 6)}
    cert = topk_rollup_certified(
        hh_frame,
        shard=F.date_trunc("day", F.col("ts")),
        rollup_fn=lambda c: F.lit(1),
        key_col="key",
        k=2,
        n_top=3,
    ).collect()
    exact = {"x": 6, "y": 5, "z": 6}
    for r in cert:
        assert r["exact_n"] == exact[r["key"]]
        assert r["bound_ok"]
        assert r["est_lo"] <= r["exact_n"] <= r["est_hi"]


def test_topk_rollup_plan_never_rescans(spark, hh_frame, tmp_path):
    """The 100 TB claim in plan form: given a MATERIALIZED summary
    table, the merged top-N plan reads ONLY the summary parquet —
    every scan in the plan is of the summary, the fact table never
    appears. (Unlike the HLL estimate the merge does join — per-key
    sums against per-rollup residual totals — but both sides are
    summary-row-sized.)"""
    from taxi_rides_ny_duckdb_spark.operators.sketch import (
        shard_topk_summaries,
        topk_rollup,
    )

    sk = shard_topk_summaries(
        hh_frame, F.date_trunc("day", F.col("ts")), "key", k=2
    )
    path = str(tmp_path / "hh_tbl")
    sk.write.mode("overwrite").parquet(path)
    rolled = topk_rollup(spark.read.parquet(path), lambda c: F.lit(1), 3)
    plan = rolled._jdf.queryExecution().executedPlan().toString()
    # Both scans (per-key side + residual-totals side) read the
    # summary table; no other source appears in the plan.
    assert 1 <= plan.count("Scan parquet") <= 2
    assert plan.count("hh_tbl") == plan.count("Scan parquet")


# ---------------------------------------------------------------------------
# Small-file compaction + file-stats skipping index (operators/scale)
# ---------------------------------------------------------------------------


def test_compact_files_rowcount_sizing_and_losslessness(spark, tmp_path):
    """64 fragment files → ceil(n/rows_per_file) compacted files, with
    the exact row multiset preserved."""
    from taxi_rides_ny_duckdb_spark.operators.scale import compact_files

    src, dst = str(tmp_path / "frag"), str(tmp_path / "compact")
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    )
    df.repartition(64).write.mode("overwrite").parquet(src)
    stats = compact_files(spark, src, dst, rows_per_file=300)
    assert stats["n_files_before"] == 64
    assert stats["n_files_after"] == 4  # ceil(1000/300)
    assert stats["n_rows"] == 1000
    back = spark.read.parquet(dst)
    assert sorted(r["id"] for r in back.collect()) == list(range(1000))
    import pytest

    with pytest.raises(ValueError):
        compact_files(spark, src, dst + "2", rows_per_file=0)


def test_file_stats_index_and_pruned_scan(spark, tmp_path):
    """The manifest covers every file and row; a range scan through it
    opens fewer files yet returns exactly the full-scan answer; a
    miss-everything predicate opens zero files and returns zero rows."""
    from taxi_rides_ny_duckdb_spark.operators.scale import (
        file_stats_index,
        pruned_file_scan,
    )

    path = str(tmp_path / "ranged")
    df = spark.range(800).select(F.col("id"), (F.col("id") * 2).alias("x"))
    (
        df.repartitionByRange(8, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(path)
    )
    laid = spark.read.parquet(path)
    idx = file_stats_index(laid, ["x"])
    rows = idx.collect()
    assert len(rows) == len(laid.inputFiles())
    assert sum(r["n_rows"] for r in rows) == 800
    assert min(r["x_min"] for r in rows) == 0
    assert max(r["x_max"] for r in rows) == 1598
    pruned, n_total, n_keep = pruned_file_scan(spark, idx, "x", 100, 260)
    assert n_total == 8 and 0 < n_keep < n_total
    want = sorted(
        r["id"] for r in laid.where(F.col("x").between(100, 260)).collect()
    )
    assert sorted(r["id"] for r in pruned.collect()) == want
    empty, _, kept0 = pruned_file_scan(spark, idx, "x", 5000, 6000)
    assert kept0 == 0 and empty.count() == 0


def test_shard_topk_two_level_equals_single_window(spark):
    """The two-level (partition-pruned) summary path is output-identical
    to the single-window form on a many-partition frame with duplicate
    counts straddling the K+1 cut."""
    from taxi_rides_ny_duckdb_spark.operators.sketch import (
        shard_topk_summaries,
    )

    rows = [
        (f"2024-01-{(i % 3) + 1:02d}", f"k{i % 37:02d}")
        for i in range(3000)
        for _ in range((i % 5) + 1)
    ]
    df = (
        spark.createDataFrame(rows, ["d", "key"])
        .select(F.to_timestamp("d").alias("ts"), "key")
        .repartition(16)
    )
    a = sorted(
        map(
            tuple,
            shard_topk_summaries(
                df, F.date_trunc("day", F.col("ts")), "key", k=7, two_level=True
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            shard_topk_summaries(
                df, F.date_trunc("day", F.col("ts")), "key", k=7, two_level=False
            ).collect(),
        )
    )
    assert a == b and len(a) == 21  # 3 shards × k=7


def test_bm25_ranks_term_match_and_length_norm(spark):
    """Hand-checkable BM25: the doc containing both query terms beats
    single-term docs; among equal-tf docs the shorter wins (length
    normalization); non-matching docs never appear."""
    from taxi_rides_ny_duckdb_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark join"),                      # both terms, short
            (2, "spark join extra words here now"), # both terms, long
            (3, "spark alpha beta"),                # one term
            (4, "gamma delta epsilon"),             # no terms
        ],
        ["doc_id", "text"],
    )
    out = bm25_topk(spark, docs, [("q", "spark join")], "text", "doc_id", k=10)
    rows = out.orderBy("rank").collect()
    assert [r["doc_id"] for r in rows[:2]] == [1, 2]  # both-term docs lead
    assert 4 not in {r["doc_id"] for r in rows}
    assert rows[0]["score_r"] > rows[1]["score_r"]  # shorter doc scores higher


def test_bm25_rejects_empty_queries(spark):
    from taxi_rides_ny_duckdb_spark.operators.retrieval import bm25_topk

    with pytest.raises(ValueError, match="non-empty"):
        bm25_topk(spark, None, [], "text", "doc_id")


def test_gopher_quality_rules_fire_individually(spark):
    from taxi_rides_ny_duckdb_spark.operators.cleaning import gopher_quality

    good = "the quick brown fox jumps over a lazy dog and then it ran off " * 5
    short = "the a of and"                       # fails word count
    symbols = " ".join(["###"] * 60)             # fails symbol + alpha + stops
    empty = ""
    docs = spark.createDataFrame(
        [(1, good), (2, short), (3, symbols), (4, empty)], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in gopher_quality(docs, "text", "doc_id").collect()}
    assert out[1]["keep"] and all(
        out[1][c] for c in out[1].asDict() if c.startswith("rule_")
    )
    assert not out[2]["rule_word_count"] and not out[2]["keep"]
    assert out[2]["rule_stopwords"]  # stopwords present even though short
    assert not out[3]["rule_symbol_ratio"] and not out[3]["rule_alpha_ratio"]
    # zero-token doc: NULL ratios coalesce to failed rules, not NULL keep
    assert out[4]["n_words"] == 0 and out[4]["keep"] is False
    assert out[4]["mean_word_len_r"] is None


def test_dsir_scores_separate_target_from_background(spark):
    """Docs drawn from the target vocabulary must outscore docs from a
    disjoint background vocabulary, and a doc's score must scale with
    its length (sum over tokens)."""
    from taxi_rides_ny_duckdb_spark.operators.sampling import dsir_scores

    target_vocab = "alpha beta gamma delta"
    bg_vocab = "omega psi chi phi"
    docs = spark.createDataFrame(
        [
            (1, target_vocab, "t"),
            (2, target_vocab + " " + target_vocab, "t"),
            (3, bg_vocab, "b"),
            (4, target_vocab, "t"),
        ],
        ["doc_id", "text", "kind"],
    )
    out = dsir_scores(
        docs, docs.filter("kind = 't'"), "text", "doc_id", buckets=64
    )
    scores = {r["doc_id"]: r["dsir_score_r"] for r in out.collect()}
    assert scores[1] > scores[3]            # target-looking beats background
    assert scores[2] == pytest.approx(2 * scores[1], abs=1e-6)  # additive in length
    assert scores[1] == scores[4]           # content-addressed determinism


def test_dsir_rejects_bad_buckets(spark):
    from taxi_rides_ny_duckdb_spark.operators.sampling import dsir_scores

    with pytest.raises(ValueError, match="buckets"):
        dsir_scores(None, None, "text", "doc_id", buckets=0)


def test_bm25_pivot_and_explode_agree(spark, monkeypatch):
    """The zero-shuffle pivot path and the token-stream explode path
    must produce identical (query, rank, doc, score) rows — same
    integer tf/df/dl/N, same rounded arithmetic. The explode path is
    forced by dropping the ``_PIVOT_MAX_TERMS`` gate to 0."""
    import random

    from taxi_rides_ny_duckdb_spark.operators import retrieval
    from taxi_rides_ny_duckdb_spark.operators.retrieval import bm25_topk

    rng = random.Random(11)
    vocab = "alpha beta gamma delta epsilon zeta eta theta".split()
    docs = spark.createDataFrame(
        [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30))))
            for i in range(80)
        ],
        ["doc_id", "text"],
    )
    qs = [("q1", "alpha beta"), ("q2", "zeta"), ("q3", "missing gamma")]
    ra = sorted(map(tuple, bm25_topk(spark, docs, qs, "text", "doc_id", k=7).collect()))
    monkeypatch.setattr(retrieval, "_PIVOT_MAX_TERMS", 0)
    rb = sorted(map(tuple, bm25_topk(spark, docs, qs, "text", "doc_id", k=7).collect()))
    assert ra == rb and len(ra) > 0


def test_funnel_strict_ordering_semantics(spark):
    """click BEFORE the first view must not count; a later click does.
    Stage times are first-after-predecessor, and a missing middle
    stage nulls everything after it."""
    from datetime import datetime

    from taxi_rides_ny_duckdb_spark.operators.windows import funnel_stages

    T = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # u1: full funnel in order
        (1, T(10), "view"), (1, T(20), "click"), (1, T(30), "purchase"),
        # u2: click precedes view -> click doesn't count; no later click
        (2, T(5), "click"), (2, T(10), "view"), (2, T(30), "purchase"),
        # u3: purchase before click -> stops at click
        (3, T(10), "view"), (3, T(15), "purchase"), (3, T(20), "click"),
        # u4: never viewed -> excluded entirely
        (4, T(10), "click"), (4, T(20), "purchase"),
        # u5: two views; funnel anchors on the FIRST view
        (5, T(10), "view"), (5, T(40), "view"), (5, T(20), "click"),
    ]
    e = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = {
        r["user_id"]: r
        for r in funnel_stages(
            e, "user_id", "ts", "event_type", ["view", "click", "purchase"]
        ).collect()
    }
    assert set(out) == {1, 2, 3, 5}
    assert out[1]["stages_completed"] == 3
    assert out[2]["stages_completed"] == 1 and out[2]["click_us"] is None
    # u2's purchase can't count without a qualifying click
    assert out[2]["purchase_us"] is None
    assert out[3]["stages_completed"] == 2 and out[3]["purchase_us"] is None
    assert out[5]["stages_completed"] == 2  # click after FIRST view counts


def test_funnel_rejects_single_stage(spark):
    from taxi_rides_ny_duckdb_spark.operators.windows import funnel_stages

    with pytest.raises(ValueError, match="stages"):
        funnel_stages(None, "u", "ts", "t", ["only"])


def test_cohort_retention_offsets(spark):
    from datetime import datetime

    from taxi_rides_ny_duckdb_spark.operators.windows import cohort_retention

    rows = [
        (1, datetime(2024, 1, 1, 9)), (1, datetime(2024, 1, 3, 1)),
        (2, datetime(2024, 1, 1, 23)), (2, datetime(2024, 1, 2, 0)),
        (3, datetime(2024, 1, 2, 12)),
        (1, datetime(2024, 1, 1, 18)),  # same-day repeat: no double count
    ]
    e = spark.createDataFrame(rows, ["user_id", "ts"])
    out = {
        (r["cohort_period"].day, r["period_offset"]): r["n_users"]
        for r in cohort_retention(e, "user_id", "ts", "day").collect()
    }
    assert out[(1, 0)] == 2   # users 1, 2 start Jan 1
    assert out[(1, 1)] == 1   # user 2 back on day 1 offset
    assert out[(1, 2)] == 1   # user 1 back on day 2 offset
    assert out[(2, 0)] == 1   # user 3's cohort
    assert (2, 1) not in out


def test_cohort_retention_rejects_month_grain(spark):
    from taxi_rides_ny_duckdb_spark.operators.windows import cohort_retention

    with pytest.raises(ValueError, match="grain"):
        cohort_retention(None, "u", "ts", "month")


def test_rrf_fuse_semantics(spark):
    """Items in both lists outrank single-list items at comparable
    ranks; a missing side contributes 0; ties break by item id."""
    from taxi_rides_ny_duckdb_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [("q", 10, 1), ("q", 20, 2), ("q", 30, 3)],
        ["query_id", "item_id", "rank"],
    )
    b = spark.createDataFrame(
        [("q", 10, 3), ("q", 40, 1), ("q", 50, 2)],
        ["query_id", "item_id", "rank"],
    )
    out = rrf_fuse(a, b, k=10).orderBy("rank").collect()
    assert out[0]["item_id"] == 10  # in both lists -> top
    assert out[0]["rrf_r"] == pytest.approx(1 / 61 + 1 / 63, abs=1e-9)
    # single-list items: rank-1-in-b (40) beats rank-2-in-a (20)? No:
    # 1/61 (rank1) > 1/62 (rank2) -> 40 ahead of 20
    ids = [r["item_id"] for r in out]
    assert ids.index(40) < ids.index(20)
    assert len(out) == 5


def test_transition_matrix_counts_and_probs(spark):
    from datetime import datetime

    from taxi_rides_ny_duckdb_spark.operators.windows import (
        event_transition_matrix,
    )

    T = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        (1, T(1), "a"), (1, T(2), "b"), (1, T(3), "a"), (1, T(4), "b"),
        (2, T(1), "a"), (2, T(2), "a"),
        (3, T(1), "c"),  # single event: no transition
    ]
    e = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = {
        (r["prev_type"], r["next_type"]): (r["n"], r["p_r"])
        for r in event_transition_matrix(
            e, "user_id", "ts", "event_type"
        ).collect()
    }
    # from 'a': a->b twice (u1), a->a once (u2) -> p 2/3, 1/3
    assert out[("a", "b")] == (2, pytest.approx(2 / 3, abs=1e-9))
    assert out[("a", "a")] == (1, pytest.approx(1 / 3, abs=1e-9))
    # from 'b': b->a once, p=1
    assert out[("b", "a")] == (1, 1.0)
    assert ("c", "a") not in out and len(out) == 3


def test_chi_square_known_value(spark):
    """2×2 with a hand-computed chi2: o=[[10,20],[20,10]] ->
    expected all 15, chi2 = 4*(25/15) = 6.666..., V = sqrt(chi2/60)."""
    from taxi_rides_ny_duckdb_spark.plans.profile import (
        chi_square_independence,
    )

    rows = (
        [("x", "u")] * 10 + [("x", "v")] * 20 + [("y", "u")] * 20 + [("y", "v")] * 10
    )
    df = spark.createDataFrame(rows, ["a", "b"])
    out = chi_square_independence(df, "a", "b").collect()
    assert len(out) == 4
    r = out[0]
    assert r["dof"] == 1
    assert r["chi2_r"] == pytest.approx(20 / 3, abs=1e-6)
    assert r["cramers_v_r"] == pytest.approx((20 / 3 / 60) ** 0.5, abs=1e-6)
    assert all(x["expected_r"] == 15.0 for x in out)


def test_chi_square_constant_column_null_summary(spark):
    from taxi_rides_ny_duckdb_spark.plans.profile import (
        chi_square_independence,
    )

    df = spark.createDataFrame([("x", "u"), ("x", "v")], ["a", "b"])
    out = chi_square_independence(df, "a", "b").collect()
    assert all(
        r["chi2_r"] is None and r["dof"] is None and r["cramers_v_r"] is None
        for r in out
    )


def test_pmi_collocations_favors_coupled_terms(spark):
    """Terms engineered to always co-occur get the top PMI; terms
    that never co-occur in >= min_pair_docs docs are absent."""
    from taxi_rides_ny_duckdb_spark.operators.cleaning import pmi_collocations

    rows = []
    for i in range(10):
        rows.append((i, "coupleda coupledb filler"))        # always together
    for i in range(10, 30):
        rows.append((i, "common filler"))                    # frequent alone
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = pmi_collocations(df, "text", "doc_id", top_vocab=10,
                           min_pair_docs=5, k=10).collect()
    top = out[0]
    assert {top["term_a"], top["term_b"]} == {"coupleda", "coupledb"}
    # coupled pair: pmi = ln(30*10/(10*10)) = ln 3
    import math
    assert top["pmi_r"] == pytest.approx(math.log(3), abs=1e-9)
    pairs = {(r["term_a"], r["term_b"]) for r in out}
    assert all("coupleda" in p or "filler" in p or "common" in p or "coupledb" in p
               for p in pairs)


def test_crosstab_pivot_other_and_totals(spark):
    from taxi_rides_ny_duckdb_spark.operators.cleaning import crosstab_pivot

    df = spark.createDataFrame(
        [("s1", "en"), ("s1", "en"), ("s1", "xx"), ("s2", "es"), ("s2", None)],
        ["source", "lang"],
    )
    out = {r["source"]: r for r in
           crosstab_pivot(df, "source", "lang", ["en", "es"]).collect()}
    assert out["s1"]["en"] == 2 and out["s1"]["other"] == 1
    assert out["s1"]["es"] == 0 and out["s1"]["row_total"] == 3
    assert out["s2"]["es"] == 1 and out["s2"]["other"] == 1  # NULL -> other
    assert out["s2"]["row_total"] == 2


def test_ks_two_sample_known_and_degenerate(spark):
    from taxi_rides_ny_duckdb_spark.plans.profile import ks_two_sample

    # identical distributions -> D = 0, no rejection
    rows = [(float(v), g) for v in range(10) for g in ("x", "y")]
    df = spark.createDataFrame(rows, ["v", "g"])
    r = ks_two_sample(df, "v", "g", "x", "y").collect()[0]
    assert r["n_a"] == r["n_b"] == 10
    assert r["d_stat_r"] == 0.0 and r["reject"] is False
    # disjoint supports -> D = 1, rejected
    rows = [(float(v), "x") for v in range(20)] + [
        (float(v + 100), "y") for v in range(20)
    ]
    df = spark.createDataFrame(rows, ["v", "g"])
    r = ks_two_sample(df, "v", "g", "x", "y").collect()[0]
    assert r["d_stat_r"] == 1.0 and r["reject"] is True
    # empty group -> NULL stats, counts kept
    df = spark.createDataFrame([(1.0, "x")], ["v", "g"])
    r = ks_two_sample(df, "v", "g", "x", "y").collect()[0]
    assert r["n_b"] == 0 and r["d_stat_r"] is None and r["reject"] is None


def test_curriculum_interleave_round_robin_and_determinism(spark):
    from taxi_rides_ny_duckdb_spark.operators.sampling import (
        curriculum_interleave,
    )

    rows = [(i, "s" + str(i % 3)) for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "source"]).repartition(4)
    out = curriculum_interleave(df, "source", "doc_id").collect()
    # pos is a permutation of 0..29 (equal group sizes -> fully dense)
    assert sorted(r["pos"] for r in out) == list(range(30))
    # consecutive positions cycle through the three sources
    by_pos = {r["pos"]: r["source"] for r in out}
    for p in range(0, 30, 3):
        assert {by_pos[p], by_pos[p + 1], by_pos[p + 2]} == {"s0", "s1", "s2"}
    # determinism: identical on re-run with different partitioning
    out2 = curriculum_interleave(df.repartition(7), "source", "doc_id").collect()
    assert {(r["doc_id"], r["pos"]) for r in out} == {
        (r["doc_id"], r["pos"]) for r in out2
    }


def test_curriculum_interleave_quality_order(spark):
    from taxi_rides_ny_duckdb_spark.operators.sampling import (
        curriculum_interleave,
    )

    rows = [(i, "s", float(100 - i)) for i in range(5)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "q"])
    out = curriculum_interleave(df, "source", "doc_id", order_col="q")
    ordered = [r["doc_id"] for r in out.orderBy("pos").collect()]
    assert ordered == [4, 3, 2, 1, 0]  # ascending quality = easy-first


def test_ngram_lm_score_reference_likeness(spark):
    """Docs made of reference trigrams score LOWER (more likely) than
    out-of-distribution docs; repeated text scores identically per
    n-gram (mean is length-invariant for uniform content)."""
    from taxi_rides_ny_duckdb_spark.operators.cleaning import ngram_lm_score

    docs = spark.createDataFrame(
        [
            (1, "aaaa bbbb aaaa bbbb", True),
            (2, "aaaa bbbb", True),
            (3, "aaaa bbbb", False),       # same text, not in reference
            (4, "zzzz qqqq", False),       # fully OOV
            (5, "ab", False),              # shorter than n -> dropped
        ],
        ["doc_id", "text", "ref"],
    )
    out = {
        r["doc_id"]: r
        for r in ngram_lm_score(
            docs, F.col("ref"), "text", "doc_id"
        ).collect()
    }
    assert 5 not in out
    assert out[3]["lm_score_r"] < out[4]["lm_score_r"]  # in-dist beats OOV
    assert out[3]["lm_score_r"] == out[2]["lm_score_r"]  # same text, same score
    assert out[4]["n_ngrams"] == 7


def test_ngram_lm_score_rejects_bad_n(spark):
    from taxi_rides_ny_duckdb_spark.operators.cleaning import ngram_lm_score

    with pytest.raises(ValueError, match="n must be"):
        ngram_lm_score(None, None, "text", "doc_id", n=0)


def test_novelty_scores_unique_vs_shared(spark):
    from taxi_rides_ny_duckdb_spark.operators.cleaning import novelty_scores

    shared = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (1, shared),                      # fully duplicated by doc 2
            (2, shared),
            (3, "zeta eta theta iota kappa"), # fully original
            (4, "ab"),                        # < 3 tokens -> dropped
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in novelty_scores(docs, "text", "doc_id").collect()}
    assert out[1]["novelty_r"] == 0.0 and out[2]["novelty_r"] == 0.0
    assert out[3]["novelty_r"] == 1.0 and out[3]["n_shingles"] == 3
    assert 4 not in out


# --- BPE tokenizer training (operators/tokenizer.py) ---------------------


def _ref_bpe(word_counts, n):
    """Independent single-machine BPE reference (Sennrich-style dicts
    and while-loops — shares no mechanism with the Spark fold)."""
    vocab = {}
    for w, c in word_counts.items():
        key = tuple(list(w) + ["</w>"])
        vocab[key] = vocab.get(key, 0) + c
    merges = []
    for _ in range(n):
        pairs = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = (
                    pairs.get((syms[i], syms[i + 1]), 0) + c
                )
        if not pairs:
            break
        bc = max(pairs.values())
        best = min(p for p, c in pairs.items() if c == bc)
        merges.append((best[0], best[1], bc))
        nv = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i < len(syms) - 1
                    and syms[i] == best[0]
                    and syms[i + 1] == best[1]
                ):
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + c
        vocab = nv
    return merges


def _ref_segment(text, merges):
    out = []
    for w in text.lower().split():
        syms = list(w) + ["</w>"]
        for a, b in merges:
            o, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    o.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    o.append(syms[i])
                    i += 1
            syms = o
        out.extend(syms)
    return " ".join(out), len(out)


_BPE_DOCS = [
    (1, "low lower lowest low"),
    (2, "new newer newest new low"),
    (3, ""),  # token-less doc must survive segmentation as ('', 0)
    (4, "aaa aa a"),  # overlapping-run greedy: 'aaa' + (a,a) -> [aa, a]
    (5, "newest lowest widest"),
]


def _bpe_frame(spark):
    return spark.createDataFrame(_BPE_DOCS, "doc_id int, text string")


def test_bpe_learn_merges_matches_reference(spark):
    from collections import Counter

    from taxi_rides_ny_duckdb_spark.operators.tokenizer import (
        bpe_learn_merges,
    )

    wc = Counter()
    for _, t in _BPE_DOCS:
        wc.update(t.lower().split())
    ref = _ref_bpe(dict(wc), 10)
    got = bpe_learn_merges(_bpe_frame(spark), "text", 10)
    assert [(a, b, pc) for _, a, b, pc in got] == ref
    assert [r for r, *_ in got] == list(range(1, len(got) + 1))


def test_bpe_pair_counts_is_round_one(spark):
    """Rank-1 of the standalone pair statistic must be the learner's
    first merge (they share the round-0 symbol model)."""
    from taxi_rides_ny_duckdb_spark.operators.tokenizer import (
        bpe_learn_merges,
        bpe_pair_counts,
    )

    df = _bpe_frame(spark)
    top = bpe_pair_counts(df, "text", 3).orderBy("rank").collect()
    assert [r["rank"] for r in top] == [1, 2, 3]
    (_, a, b, pc) = bpe_learn_merges(df, "text", 1)[0]
    assert (top[0]["sym_a"], top[0]["sym_b"], top[0]["pair_count"]) == (
        a,
        b,
        pc,
    )


def test_bpe_segment_matches_reference_and_keeps_empty_docs(spark):
    from collections import Counter

    from taxi_rides_ny_duckdb_spark.operators.tokenizer import (
        bpe_learn_merges,
        bpe_segment,
    )

    df = _bpe_frame(spark)
    merges = [(a, b) for _, a, b, _ in bpe_learn_merges(df, "text", 6)]
    got = {
        r["doc_id"]: (r["bpe_text"], r["n_bpe_tokens"])
        for r in bpe_segment(df, "text", "doc_id", merges).collect()
    }
    for doc_id, text in _BPE_DOCS:
        assert got[doc_id] == _ref_segment(text, merges), doc_id
    assert got[3] == ("", 0)


def test_bpe_segment_broadcasts_vocab_map(spark):
    """The word→symbols map must reach the corpus as a BROADCAST join —
    segmentation never shuffles the corpus for the mapping."""
    from taxi_rides_ny_duckdb_spark.operators.tokenizer import bpe_segment

    plan = (
        bpe_segment(_bpe_frame(spark), "text", "doc_id", [("l", "o")])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_bpe_validates_inputs(spark):
    import pytest as _pt

    from taxi_rides_ny_duckdb_spark.operators.tokenizer import (
        bpe_learn_merges,
        bpe_pair_counts,
    )

    df = _bpe_frame(spark)
    with _pt.raises(ValueError):
        bpe_pair_counts(df, "text", 0)
    with _pt.raises(ValueError):
        bpe_learn_merges(df, "text", 0)


# ---------------------------------------------------------------------------
# operators/classify.py — multinomial NB + exact AUC


def _nb_fixture(spark):
    rows = [
        (1, "the cat sat on the mat", "en"),
        (2, "the dog ate the bone", "en"),
        (3, "a cat and a dog", "en"),
        (4, "le chat et le chien", "fr"),
        (5, "le chien mange le os", "fr"),
        (6, "un chat sur le tapis", "fr"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


def test_nb_train_model_shape_and_smoothing(spark):
    from taxi_rides_ny_duckdb_spark.operators.classify import nb_train
    import math

    docs = _nb_fixture(spark)
    token_logp, label_stats = nb_train(docs, "text", "lang")
    model = {(r["label"], r["token"]): r for r in token_logp.collect()}
    stats = {r["label"]: r for r in label_stats.collect()}
    # vocabulary is shared across classes; totals/priors are per class.
    vocab = {t for (_, t) in model}
    tot_en = sum(r["n"] for (l, _), r in model.items() if l == "en")
    v = len(vocab)
    # hand-check one smoothed conditional: p('the'|en) = (n+1)/(tot+V)
    n_the = model[("en", "the")]["n"]
    expect = round(math.log((n_the + 1.0) / (tot_en + 1.0 * v)), 12)
    assert model[("en", "the")]["logp_r"] == expect
    # priors: 3 docs each → ln(0.5)
    assert stats["en"]["log_prior_r"] == round(math.log(0.5), 12)
    # floor is strictly below every seen conditional for that label
    assert all(
        stats[l]["log_floor_r"] <= r["logp_r"] for (l, _), r in model.items()
    )


def test_nb_predict_separates_and_is_layout_independent(spark):
    from taxi_rides_ny_duckdb_spark.operators.classify import (
        nb_predict,
        nb_score,
        nb_train,
    )

    docs = _nb_fixture(spark)
    token_logp, label_stats = nb_train(docs, "text", "lang")
    tests_df = spark.createDataFrame(
        [(10, "the cat sat"), (11, "le chien et le chat"), (12, "zzz qqq")],
        ["doc_id", "text"],
    )
    pred = {
        r["doc_id"]: r["pred_label"]
        for r in nb_predict(
            nb_score(tests_df, "text", "doc_id", token_logp, label_stats),
            "doc_id",
        ).collect()
    }
    assert pred[10] == "en" and pred[11] == "fr"
    # doc 12 is fully OOV → prior-only; priors tie at ln(.5) → label asc
    assert pred[12] == "en"
    # layout independence: scores identical under a different partitioning
    s1 = nb_score(tests_df, "text", "doc_id", token_logp, label_stats)
    s2 = nb_score(
        tests_df.repartition(7), "text", "doc_id", token_logp, label_stats
    )
    assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, s2.collect()))


def test_auc_exact_known_values(spark):
    from taxi_rides_ny_duckdb_spark.operators.classify import auc_exact

    # perfect separation → 1.0; anti-separation → 0.0
    perfect = spark.createDataFrame(
        [(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)], ["s", "y"]
    )
    assert auc_exact(perfect, "s", "y").collect()[0]["auc_r"] == 1.0
    rev = spark.createDataFrame(
        [(0.9, 0), (0.8, 0), (0.2, 1), (0.1, 1)], ["s", "y"]
    )
    assert auc_exact(rev, "s", "y").collect()[0]["auc_r"] == 0.0
    # all-tied scores → 0.5 exactly (tie-corrected average ranks)
    tied = spark.createDataFrame([(0.5, 1), (0.5, 0), (0.5, 1)], ["s", "y"])
    assert auc_exact(tied, "s", "y").collect()[0]["auc_r"] == 0.5
    # hand-computed mixed case with a tie straddling classes:
    # scores: pos {0.8, 0.5}, neg {0.5, 0.2}; ranks asc: 0.2→1,
    # 0.5,0.5→avg 2.5, 0.8→4; R+ = 2.5+4 = 6.5; U = 6.5-3 = 3.5;
    # AUC = 3.5/4 = 0.875
    mixed = spark.createDataFrame(
        [(0.8, 1), (0.5, 1), (0.5, 0), (0.2, 0)], ["s", "y"]
    )
    row = auc_exact(mixed, "s", "y").collect()[0]
    assert (row["n_pos"], row["n_neg"], row["auc_r"]) == (2, 2, 0.875)


def test_auc_exact_matches_pair_counting_reference(spark):
    """Property: AUC == (#concordant + ½·#tied) / (n_pos·n_neg) on a
    deterministic pseudo-random fixture, vs an O(n²) reference."""
    from taxi_rides_ny_duckdb_spark.operators.classify import auc_exact

    rows = []
    x = 1
    for i in range(60):
        x = (x * 1103515245 + 12345) % (2**31)
        score = round((x % 13) / 13.0, 6)  # coarse grid → many ties
        label = 1 if (x // 13) % 3 == 0 else 0
        rows.append((score, label))
    pos = [s for s, y in rows if y == 1]
    neg = [s for s, y in rows if y == 0]
    conc = sum(1 for p in pos for n in neg if p > n)
    tie = sum(1 for p in pos for n in neg if p == n)
    expect = round((conc + 0.5 * tie) / (len(pos) * len(neg)), 9)
    df = spark.createDataFrame(rows, ["s", "y"])
    assert auc_exact(df, "s", "y").collect()[0]["auc_r"] == expect


# ---------------------------------------------------------------------------
# operators/similarity.py — semdedup + semantic_decontaminate


def test_semdedup_cluster_scoped_pairs_and_keep_rule(spark):
    from taxi_rides_ny_duckdb_spark.operators.similarity import semdedup

    cents = [[1.0, 0.0], [0.0, 1.0]]
    rows = [
        (1, [1.0, 0.01]),   # cluster 0
        (2, [1.0, 0.02]),   # near-dup of 1, slightly MORE atypical
        (3, [0.9, 0.2]),    # cluster 0, not a dup at τ=0.999
        (4, [0.72, 0.69]),  # cluster 0 ┐ cosine(4,5) ≈ 0.99911 ≥ τ but
        (5, [0.69, 0.72]),  # cluster 1 ┘ different clusters → never paired
        (6, [0.01, 1.0]),   # cluster 1
        (7, [0.01, 1.0]),   # exact dup of 6
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in semdedup(df, cents, threshold=0.999).collect()}
    assert {i: out[i]["centroid_id"] for i in out} == {
        1: 0, 2: 0, 3: 0, 4: 0, 5: 1, 6: 1, 7: 1
    }
    # 1-2 one component; 6-7 one component; 4 and 5 SEPARATE despite
    # cross-cluster cosine above threshold (cluster-scoped pairing)
    assert out[1]["component"] == out[2]["component"]
    assert out[6]["component"] == out[7]["component"]
    assert out[4]["component"] != out[5]["component"]
    assert out[3]["component"] not in (out[1]["component"], out[4]["component"])
    # keep rule: the LEAST centroid-similar member survives (2 is more
    # atypical than 1); exact tie (6 vs 7) → lower id
    assert (out[1]["keep"], out[2]["keep"]) == (False, True)
    assert (out[6]["keep"], out[7]["keep"]) == (True, False)
    # singletons always keep
    assert out[3]["keep"] and out[4]["keep"] and out[5]["keep"]


def test_semantic_decontaminate_flags_and_argmax_ties(spark):
    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        semantic_decontaminate,
    )

    ev = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 0.0])],
        "eval_id long, eval_vec array<double>",
    )
    corpus = spark.createDataFrame(
        [
            (10, [2.0, 0.0]),    # same direction as eval 0 AND 2 → sim 1.0, tie → id 0
            (11, [-1.0, 0.0]),   # anti-parallel → max sim is 0.0 vs eval 1
            (12, [1.0, 1.0]),    # 45° → 0.707106781 to all
            (13, [0.0, 0.0]),    # zero vector → defined 0.0, clean
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: r
        for r in semantic_decontaminate(corpus, ev, threshold=0.9).collect()
    }
    assert out[10]["contaminated"] and out[10]["max_eval_sim_r"] == 1.0
    assert out[10]["nearest_eval_id"] == 0  # tie with eval 2 → lower id
    assert not out[11]["contaminated"] and out[11]["max_eval_sim_r"] == 0.0
    assert out[12]["max_eval_sim_r"] == 0.707106781 and not out[12]["contaminated"]
    assert out[13]["max_eval_sim_r"] == 0.0 and not out[13]["contaminated"]


# ---------------------------------------------------------------------------
# operators/pca.py — train + whiten-project


def test_train_pca_matches_numpy_reference(spark):
    import numpy as np
    from taxi_rides_ny_duckdb_spark.operators.pca import train_pca

    rng = np.random.RandomState(7)
    # anisotropic cloud: strong axis 0, weak axis 2
    base = rng.randn(200, 3) * np.array([5.0, 1.0, 0.2]) + np.array([1.0, -2.0, 0.5])
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(base)],
        "id long, embedding array<double>",
    )
    mean, comps, scales = train_pca(df, "embedding", k=3, dim=3)
    # reference: population covariance + eigh
    ref_mean = base.mean(axis=0)
    cov = np.cov(base, rowvar=False, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1]
    assert np.allclose(mean, ref_mean, atol=1e-9)
    for j, idx in enumerate(order):
        # sign-normalized comparison (eigenvectors defined up to sign)
        v = evecs[:, idx]
        got = np.asarray(comps[j])
        assert np.allclose(np.abs(got), np.abs(v), atol=1e-8), j
        assert abs(scales[j] - np.sqrt(evals[idx])) < 1e-9
    # components orthonormal
    c = np.asarray(comps)
    assert np.allclose(c @ c.T, np.eye(3), atol=1e-9)
    # variance ordering descending
    assert scales[0] >= scales[1] >= scales[2]


def test_pca_whiten_project_decorrelates_training_data(spark):
    import numpy as np
    from taxi_rides_ny_duckdb_spark.operators.pca import (
        pca_whiten_project,
        train_pca,
    )

    rng = np.random.RandomState(11)
    base = rng.randn(300, 4) @ rng.randn(4, 4) + rng.randn(4)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(base)],
        "id long, embedding array<double>",
    )
    mean, comps, scales = train_pca(df, "embedding", k=4, dim=4)
    out = pca_whiten_project(df, mean, comps, scales, vec_col="embedding")
    m = np.array([[r[f"pc{j}"] for j in range(1, 5)] for r in out.collect()])
    # zero-mean, identity covariance on the training distribution
    assert np.allclose(m.mean(axis=0), 0.0, atol=1e-9)
    cov = np.cov(m, rowvar=False, bias=True)
    assert np.allclose(cov, np.eye(4), atol=1e-6)


def test_pca_validates_inputs(spark):
    import pytest as _pytest
    from taxi_rides_ny_duckdb_spark.operators.pca import (
        pca_whiten_project,
        train_pca,
    )

    df = spark.createDataFrame([(1, [1.0, 2.0])], "id long, embedding array<double>")
    with _pytest.raises(ValueError, match="k must be"):
        train_pca(df, "embedding", k=3, dim=2)
    with _pytest.raises(ValueError, match="at least 2"):
        train_pca(df, "embedding", k=1, dim=2)
    with _pytest.raises(ValueError, match="equal length"):
        pca_whiten_project(df, [0.0, 0.0], [[1.0, 0.0]], [1.0, 2.0])


# --- round-8 wave A: cluster-downstream sampling --------------------------


def _toy_cluster_inputs(spark):
    """6 nodes; pairs {1-2, 2-3} and {5-6} → components {1,2,3}, {4}, {5,6}."""
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    return nodes, pairs


def test_purged_kfold_cluster_integrity(spark):
    from taxi_rides_ny_duckdb_spark.operators.sampling import purged_kfold

    nodes, pairs = _toy_cluster_inputs(spark)
    out = purged_kfold(nodes, pairs, "id", k=4).collect()
    assert len(out) == 6
    by_comp = {}
    for r in out:
        assert 0 <= r["fold"] < 4
        by_comp.setdefault(r["component"], set()).add(r["fold"])
    # every cluster's members share ONE fold
    assert all(len(folds) == 1 for folds in by_comp.values())
    # clusters resolved correctly: {1,2,3} together, {5,6} together
    comp_of = {r["id"]: r["component"] for r in out}
    assert comp_of[1] == comp_of[2] == comp_of[3] == 1
    assert comp_of[5] == comp_of[6] == 5
    assert comp_of[4] == 4


def test_purged_kfold_validates_k(spark):
    import pytest as _pytest

    from taxi_rides_ny_duckdb_spark.operators.sampling import purged_kfold

    nodes, pairs = _toy_cluster_inputs(spark)
    with _pytest.raises(ValueError, match="k must be"):
        purged_kfold(nodes, pairs, "id", k=1)


def test_contrastive_pairs_negative_outside_cluster(spark):
    from taxi_rides_ny_duckdb_spark.operators.sampling import contrastive_pairs

    nodes, pairs = _toy_cluster_inputs(spark)
    # n_buckets=1 degenerates to the full-pool scan: every pair sees
    # every candidate, so exactly one row per input pair survives.
    out = contrastive_pairs(
        nodes, pairs, "id", pool_fraction=1.0, n_buckets=1
    ).collect()
    # one row per input pair
    assert sorted((r["anchor_id"], r["positive_id"]) for r in out) == [
        (1, 2), (2, 3), (5, 6),
    ]
    comp = {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}
    for r in out:
        assert comp[r["negative_id"]] != comp[r["anchor_id"]]
    # deterministic: a second run returns the identical rows
    again = contrastive_pairs(
        nodes, pairs, "id", pool_fraction=1.0, n_buckets=1
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_contrastive_pairs_bucketed_draw_matches_replay(spark):
    """Bucketed probing (the default, B=8): every emitted negative must
    (a) come from outside the anchor's component, (b) live in exactly
    the bucket the (anchor, positive) hash names, and (c) be the
    minimum-draw candidate of that bucket — verified by replaying the
    md5 arithmetic in pure Python. Dropped pairs are exactly those
    whose probed bucket has no out-of-component candidate."""
    import hashlib

    from taxi_rides_ny_duckdb_spark.operators.sampling import contrastive_pairs

    def u(salt, key):
        h = hashlib.md5(f"{salt}:{key}".encode()).hexdigest()
        return int(h[:8], 16) / 4294967296.0

    nodes, pairs = _toy_cluster_inputs(spark)
    B = 4
    out = {
        (r["anchor_id"], r["positive_id"]): r["negative_id"]
        for r in contrastive_pairs(
            nodes, pairs, "id", pool_fraction=1.0, n_buckets=B
        ).collect()
    }
    comp = {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}
    pos = [(1, 2), (2, 3), (5, 6)]
    expected = {}
    for a, p in pos:
        probe = int(u("neg:probe", f"{a}|{p}") * B)
        cands = [
            n
            for n in comp
            if int(u("neg:bucket", n) * B) == probe and comp[n] != comp[a]
        ]
        if cands:
            expected[(a, p)] = min(
                cands, key=lambda n: (u("neg", f"{a}|{p}|{n}"), n)
            )
    assert out == expected


def test_contrastive_pairs_validates_fraction(spark):
    import pytest as _pytest

    from taxi_rides_ny_duckdb_spark.operators.sampling import contrastive_pairs

    nodes, pairs = _toy_cluster_inputs(spark)
    with _pytest.raises(ValueError, match="pool_fraction"):
        contrastive_pairs(nodes, pairs, "id", pool_fraction=0.0)


def test_temperature_mixture_alpha_zero_uniform(spark):
    """alpha=0: shares are uniform, so the smallest stratum is kept in
    full and larger strata downsample toward its size."""
    from taxi_rides_ny_duckdb_spark.operators.sampling import temperature_mixture

    rows = (
        [(i, "big") for i in range(100)]
        + [(i + 100, "mid") for i in range(50)]
        + [(i + 150, "small") for i in range(10)]
    )
    df = spark.createDataFrame(rows, "id long, lang string")
    out = temperature_mixture(df, "id", "lang", alpha=0.0)
    kept = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    # uniform shares → n_out = 30, expected keeps ~ (10, 15, 30·⅓)=10 each
    assert kept["small"] == 10  # fraction 1.0 — kept entirely
    assert kept["big"] <= 20 and kept["mid"] <= 20  # ~10 expected


def test_temperature_mixture_alpha_one_keeps_everything(spark):
    """alpha=1: shares equal raw proportions, so every per-stratum
    fraction is 1.0 (proportional mixing is a no-op downsample)."""
    from taxi_rides_ny_duckdb_spark.operators.sampling import temperature_mixture

    rows = [(i, "a") for i in range(40)] + [(i + 40, "b") for i in range(20)]
    df = spark.createDataFrame(rows, "id long, lang string")
    assert temperature_mixture(df, "id", "lang", alpha=1.0).count() == 60


def test_exact_k_sample_size_and_determinism(spark):
    from taxi_rides_ny_duckdb_spark.operators.sampling import (
        exact_k_sample,
        hash_fraction,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i,) for i in range(1000)], "id long")
    out = exact_k_sample(df, "id", 25)
    got = sorted(r["id"] for r in out.collect())
    assert len(got) == 25
    # matches the manual min-25 by hash fraction
    manual = [
        r["id"]
        for r in df.select("id", hash_fraction(F.col("id"), "exact").alias("u"))
        .orderBy("u", "id")
        .limit(25)
        .collect()
    ]
    assert got == sorted(manual)
    assert sorted(r["id"] for r in exact_k_sample(df, "id", 25).collect()) == got


# --- round-8 wave B: governance gates + winnowing --------------------------


def test_k_anonymity_suppresses_small_groups(spark):
    from taxi_rides_ny_duckdb_spark.operators.cleaning import k_anonymity_suppress

    rows = (
        [(i, "en", "a") for i in range(5)]
        + [(10 + i, "en", "b") for i in range(2)]
        + [(20, "fr", "a")]
    )
    df = spark.createDataFrame(rows, "id long, lang string, src string")
    out = k_anonymity_suppress(df, ["lang", "src"], 3).collect()
    assert sorted(r["id"] for r in out) == [0, 1, 2, 3, 4]
    assert all(r["qi_group_size"] == 5 for r in out)


def test_k_anonymity_validates_inputs(spark):
    import pytest as _pytest

    from taxi_rides_ny_duckdb_spark.operators.cleaning import k_anonymity_suppress

    df = spark.createDataFrame([(1, "en")], "id long, lang string")
    with _pytest.raises(ValueError, match="k must be"):
        k_anonymity_suppress(df, ["lang"], 1)
    with _pytest.raises(ValueError, match="non-empty"):
        k_anonymity_suppress(df, [], 3)


def test_group_quality_gate_drops_whole_group(spark):
    from taxi_rides_ny_duckdb_spark.operators.cleaning import group_quality_gate

    rows = [
        (1, "good", 0.9), (2, "good", 0.7),          # mean 0.8 → kept
        (3, "bad", 0.9), (4, "bad", 0.1), (5, "bad", 0.1),  # mean ~0.367 → dropped
    ]
    df = spark.createDataFrame(rows, "id long, src string, q double")
    out = group_quality_gate(df, "src", "q", 0.5).collect()
    assert sorted(r["id"] for r in out) == [1, 2]
    assert all(abs(r["group_mean_r"] - 0.8) < 1e-12 for r in out)


def test_winnowing_guarantee_shared_passage(spark):
    """Two docs sharing a k+w-1 = 8-token passage MUST share at least
    one selected fingerprint (the winnowing coverage guarantee)."""
    from taxi_rides_ny_duckdb_spark.operators.dedup import winnow_fingerprints

    passage = "alpha bravo charlie delta echo foxtrot golf hotel"
    df = spark.createDataFrame(
        [
            (1, f"unrelated prefix words here {passage} and a suffix"),
            (2, f"{passage} totally different continuation of text body"),
            (3, "no overlap with anything else at all in this one document"),
        ],
        "doc_id long, text string",
    )
    out = winnow_fingerprints(df, "text", "doc_id", k=5, w=4).collect()
    fps = {}
    for r in out:
        fps.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert fps[1] & fps[2], "shared 8-token passage must share a fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])


def test_winnowing_short_docs(spark):
    from taxi_rides_ny_duckdb_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame(
        [
            (1, "one two three"),              # < k tokens → no rows
            (2, "one two three four five six"),  # 2 shingles < w → 1 global min
        ],
        "doc_id long, text string",
    )
    out = winnow_fingerprints(df, "text", "doc_id", k=5, w=4).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["doc_id"], []).append(r["fingerprint"])
    assert 1 not in by_id
    assert len(by_id[2]) == 1


# --- round-8 wave 2: passage matches + surrogate-LR trainer ----------------


def test_passage_matches_finds_shared_passage(spark):
    from taxi_rides_ny_duckdb_spark.operators.dedup import winnow_passage_matches

    passage = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliett "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    )
    boiler = "copyright footer notice all rights reserved by the site owner"
    docs = [
        (1, f"intro words before {passage} trailing content one two"),
        (2, f"{passage} with a different continuation entirely here now"),
        (3, "completely unrelated text with no shared passages anywhere at all"),
    ]
    # boilerplate shared by MANY docs must not produce pairs when
    # max_df excludes it
    docs += [(10 + i, f"unique{i} filler{i} words{i} again{i} more{i} {boiler}") for i in range(6)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = winnow_passage_matches(
        df, "text", "doc_id", k=5, w=4, min_shared=2, max_df=4
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    assert (1, 2) in got
    assert all(a < 10 and b < 10 for a, b in got), f"boilerplate paired: {got}"


def test_passage_matches_validates(spark):
    import pytest as _pytest

    from taxi_rides_ny_duckdb_spark.operators.dedup import winnow_passage_matches

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="min_shared"):
        winnow_passage_matches(df, "text", "doc_id", min_shared=0)
    with _pytest.raises(ValueError, match="max_df"):
        winnow_passage_matches(df, "text", "doc_id", max_df=1)


def test_lr_learns_separable_classes(spark):
    """On a cleanly separable two-vocabulary corpus the GD trainer must
    rank every positive above every negative (AUC = 1)."""
    from taxi_rides_ny_duckdb_spark.operators.classify import (
        lr_score_surrogate,
        lr_train_surrogate,
    )

    rows = []
    for i in range(40):
        rows.append((i, "alpha beta gamma alpha beta", 1))
        rows.append((100 + i, "omega sigma tau omega sigma", 0))
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    w, b = lr_train_surrogate(df, "text", "doc_id", "y", dim=16, iters=5, lr=4.0)
    assert any(abs(v) > 1e-6 for v in w), "weights must move off zero"
    scored = {
        r["doc_id"]: r["score_r"]
        for r in lr_score_surrogate(df, "text", "doc_id", w, b).collect()
    }
    pos = [scored[i] for i in range(40)]
    neg = [scored[100 + i] for i in range(40)]
    assert min(pos) > max(neg), "separable classes must separate"


def test_lr_features_shape(spark):
    from taxi_rides_ny_duckdb_spark.operators.classify import lr_hashed_features

    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "x x x")], "doc_id long, text string"
    )
    out = lr_hashed_features(df, "text", "doc_id", dim=8).collect()
    by_doc = {}
    for r in out:
        assert 0 <= r["idx"] < 8
        by_doc.setdefault(r["doc_id"], 0.0)
        by_doc[r["doc_id"]] += r["x"]
    # per-doc tf mass sums to exactly 1
    assert all(abs(v - 1.0) < 1e-12 for v in by_doc.values())


def test_lr_validates_inputs(spark):
    import pytest as _pytest

    from taxi_rides_ny_duckdb_spark.operators.classify import (
        lr_hashed_features,
        lr_score_surrogate,
        lr_train_surrogate,
    )

    df = spark.createDataFrame([(1, "a", 1)], "doc_id long, text string, y int")
    with _pytest.raises(ValueError, match="dim must be"):
        lr_hashed_features(df, "text", "doc_id", dim=1)
    with _pytest.raises(ValueError, match="iters"):
        lr_train_surrogate(df, "text", "doc_id", "y", iters=0)
    with _pytest.raises(ValueError, match="dim 4"):
        lr_score_surrogate(df, "text", "doc_id", [0.0, 0.0], 0.0, dim=4)


def test_funnel_report_counts_and_order(spark):
    from taxi_rides_ny_duckdb_spark.operators.cleaning import funnel_report

    df = spark.createDataFrame([(i,) for i in range(10)], "id long")
    out = funnel_report(
        [
            ("raw", df),
            ("half", df.filter("id < 5")),
            ("one", df.filter("id = 0")),
        ]
    ).collect()
    assert [(r["stage_idx"], r["stage"], r["n_docs"]) for r in out] == [
        (0, "raw", 10), (1, "half", 5), (2, "one", 1),
    ]


def test_funnel_report_validates(spark):
    import pytest as _pytest

    from taxi_rides_ny_duckdb_spark.operators.cleaning import funnel_report

    with _pytest.raises(ValueError, match="non-empty"):
        funnel_report([])


def test_winnowing_hash_agnostic_pipeline(spark):
    """The production xxhash64 variant runs the same pipeline and
    keeps the coverage guarantee (shared 8-token passage ⇒ shared
    fingerprint) — only the hash values differ from the md5 default."""
    from taxi_rides_ny_duckdb_spark.operators.dedup import winnow_fingerprints

    passage = "alpha bravo charlie delta echo foxtrot golf hotel"
    df = spark.createDataFrame(
        [
            (1, f"some leading words {passage} and trailing ones here"),
            (2, f"{passage} then a different continuation of the text"),
        ],
        "doc_id long, text string",
    )
    out = winnow_fingerprints(df, "text", "doc_id", k=5, w=4, token_hash=F.xxhash64)
    fps = {}
    for r in out.collect():
        fps.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert fps[1] & fps[2]


def test_kmeans_lloyd_separates_blobs(spark):
    """Two well-separated blobs with k=2 and one init vector in each:
    Lloyd must assign every point to its blob and move the centroids
    to (approximately) the blob means."""
    from taxi_rides_ny_duckdb_spark.operators.similarity import kmeans_lloyd

    rows = []
    for i in range(30):
        rows.append((i, [10.0 + (i % 3) * 0.1, 10.0 - (i % 5) * 0.1]))
        rows.append((100 + i, [-10.0 - (i % 3) * 0.1, -10.0 + (i % 5) * 0.1]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    init = [[10.0, 10.0], [-10.0, -10.0]]
    cents, sizes = kmeans_lloyd(df, init, iters=2)
    assert sizes == {0: 30, 1: 30}
    assert cents[0][0] > 9.5 and cents[1][0] < -9.5
    # deterministic: rerun identical
    again, sizes2 = kmeans_lloyd(df, init, iters=2)
    assert again == cents and sizes2 == sizes


def test_kmeans_lloyd_empty_cluster_carries_centroid(spark):
    from taxi_rides_ny_duckdb_spark.operators.similarity import kmeans_lloyd

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.2, 0.0]), (3, [0.1, 0.1])],
        "vec_id long, embedding array<double>",
    )
    # second centroid is far away — no point ever assigns to it
    init = [[0.0, 0.0], [99.0, 99.0]]
    cents, sizes = kmeans_lloyd(df, init, iters=3)
    assert sizes.get(1) is None or sizes.get(1, 0) == 0
    assert cents[1] == [99.0, 99.0], "empty cluster must keep its centroid"
    assert sizes[0] == 3


def test_kmeans_lloyd_validates(spark):
    import pytest as _pytest

    from taxi_rides_ny_duckdb_spark.operators.similarity import kmeans_lloyd

    df = spark.createDataFrame([(1, [0.0])], "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="iters"):
        kmeans_lloyd(df, [[0.0]], iters=0)
    with _pytest.raises(ValueError, match="non-empty"):
        kmeans_lloyd(df, [], iters=1)
    with _pytest.raises(ValueError, match="dimensionality"):
        kmeans_lloyd(df, [[0.0], [0.0, 1.0]], iters=1)


def test_kmeans_lloyd_rejects_overflowing_coordinates(spark, monkeypatch):
    """The exact scaled-integer distance wraps int64 silently for
    unnormalized coordinates (the documented |x−c| ≲ 150-at-dim-64
    precondition) — the trainer must RAISE with pre-scaling guidance,
    not mis-assign (VERDICT r9 task 5), on both sides of the fused
    gate."""
    import pytest as _pytest

    from taxi_rides_ny_duckdb_spark.operators import similarity as S

    dim = 64
    big = spark.createDataFrame(
        [(1, [1.0e5] * dim), (2, [-1.0e5] * dim)],
        "vec_id long, embedding array<double>",
    )
    tame = spark.createDataFrame(
        [(1, [0.0] * dim), (2, [1.0] * dim)],
        "vec_id long, embedding array<double>",
    )
    for gate in (S._FUSED_LLOYD_MAX_ROWS, 0):
        monkeypatch.setattr(S, "_FUSED_LLOYD_MAX_ROWS", gate)
        with _pytest.raises(ValueError, match="pre-scale"):
            S.kmeans_lloyd(big, [[0.0] * dim, [1.0] * dim], iters=1)
        # out-of-bound INIT centroids trip the same guard on tame data
        with _pytest.raises(ValueError, match="pre-scale"):
            S.kmeans_lloyd(tame, [[0.0] * dim, [5.0e5] * dim], iters=1)
        # unit-scale embeddings pass with orders-of-magnitude margin
        cents, sizes = S.kmeans_lloyd(tame, [[0.0] * dim, [1.0] * dim], iters=1)
        assert sizes == {0: 1, 1: 1}


def _ref_d2(v, c):
    """Pure-Python scaled-integer squared L2, independent of the numpy
    kernel: per-term round(t²·10¹²) HALF_UP on the exact binary value
    (Decimal), summed as Python ints."""
    from decimal import ROUND_HALF_UP, Decimal

    one = Decimal(1)
    return sum(
        int(Decimal((x - y) * (x - y) * 1e12).quantize(one, ROUND_HALF_UP))
        for x, y in zip(v, c)
    )


def _ref_argmin(v, cents):
    """Nearest centroid index under ``_ref_d2``, ties to the lower
    index."""
    return min(range(len(cents)), key=lambda c: (_ref_d2(v, cents[c]), c))


def _ref_lloyd(vecs, init, iters):
    """Pure-Python Lloyd replay of the oracle arithmetic: the
    ``_ref_argmin`` E-step, M-step sums of round(x·10¹²) (Decimal
    half-away) as Python ints, means through the scalar
    ``parity.round_half_up`` of float(s)/1e12/n, empty clusters
    keeping their previous centroid. Returns the trained centroids."""
    from decimal import ROUND_HALF_UP, Decimal

    from taxi_rides_ny_duckdb_spark.functions.parity import PARITY_DP, round_half_up

    cents = [list(c) for c in init]
    for _ in range(iters):
        sums: dict = {}
        counts: dict = {}
        for v in vecs:
            c = _ref_argmin(v, cents)
            counts[c] = counts.get(c, 0) + 1
            acc = sums.setdefault(c, [0] * len(v))
            for j, x in enumerate(v):
                acc[j] += int(
                    Decimal(x * 1e12).quantize(Decimal(1), ROUND_HALF_UP)
                )
        for c, cnt in counts.items():
            cents[c] = [
                round_half_up(float(t) / 1e12 / cnt, PARITY_DP) for t in sums[c]
            ]
    return cents


def test_kmeans_assign_arrow_matches_reference(spark, sf_dir, monkeypatch):
    """The Arrow E-step must equal an independent pure-Python replay
    of the oracle arithmetic on real fixture embeddings (per-term
    round(t²·10¹²) half-away as exact ints, argmin ties to the lower
    cid) — quantizing before summing is what makes numpy's pairwise
    order exact — also past k = 64, where exact ties straddle the
    kernel's centroid-chunk boundaries; and the trainer must return
    identical centroids and sizes on both sides of the fused gate."""
    from taxi_rides_ny_duckdb_spark.operators import similarity as S
    from taxi_rides_ny_duckdb_spark.sources.registry import load

    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    vecs = {
        r["vec_id"]: [float(x) for x in r["cv"]]
        for r in emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("cv")
        ).collect()
    }
    init = [vecs[i] for i in range(5)]
    want = {vid: _ref_argmin(v, init) for vid, v in vecs.items()}
    got = {
        r["vec_id"]: r["cid"]
        for r in S.kmeans_assign_arrow(emb, init, "vec_id").collect()
    }
    assert got == want and len(got) == 300

    # k = 130: centroid 64 duplicates 63 (an exact tie across the
    # 63/64 chunk boundary) and 127.5 sits midway between 127 and 128
    # (the 127/128 boundary); both must resolve to the lower id
    cents = [[float(i), 0.0] for i in range(130)]
    cents[64] = list(cents[63])
    pts = [[63.0, 0.0], [63.5, 0.0], [127.5, 0.0], [100.0, 0.0], [129.2, 0.0]]
    df = spark.createDataFrame(
        list(enumerate(pts)), "vec_id long, embedding array<double>"
    )
    got = {
        r["vec_id"]: r["cid"]
        for r in S.kmeans_assign_arrow(df, cents, "vec_id").collect()
    }
    assert got == {i: _ref_argmin(v, cents) for i, v in enumerate(pts)}
    assert got == {0: 63, 1: 63, 2: 127, 3: 100, 4: 129}

    fused = S.kmeans_lloyd(emb, init, iters=2)
    monkeypatch.setattr(S, "_FUSED_LLOYD_MAX_ROWS", 0)
    assert S.kmeans_lloyd(emb, init, iters=2) == fused


def test_lloyd_entries_reject_malformed_vectors(spark, monkeypatch):
    """A NULL vector, or one shorter or longer than the centroids,
    stops every Lloyd entry with a ValueError naming the operator and
    the row — not numpy's opaque broadcast/sequence error, and never
    a silent truncation of the longer vector."""
    from pyspark.errors import PythonException

    from taxi_rides_ny_duckdb_spark.operators import similarity as S

    init = [[0.0, 0.0, 0.0], [1.0, 1.0, 1.0]]
    good = [(i, [0.1 * i, 0.2, 0.3]) for i in range(5)]
    cases = [
        (None, r"NULL vector at batch row \d+ \(expected array of 3 doubles"),
        ([0.5, 0.5], r"vector of length 2 at batch row \d+ \(expected 3\)"),
        ([0.5] * 4, r"vector of length 4 at batch row \d+ \(expected 3\)"),
    ]
    for bad, text in cases:
        df = spark.createDataFrame(
            good + [(5, bad)], "vec_id long, embedding array<double>"
        )
        for gate, op in (
            (S._FUSED_LLOYD_MAX_ROWS, "kmeans_lloyd"),
            (0, "kmeans_assign_arrow"),
        ):
            monkeypatch.setattr(S, "_FUSED_LLOYD_MAX_ROWS", gate)
            with pytest.raises(
                PythonException, match=f"ValueError: {op}: {text}"
            ):
                S.kmeans_lloyd(df, init, iters=1)
            monkeypatch.undo()
        grouped = df.select(
            "vec_id", F.lit(0).alias("bid"), F.col("embedding").alias("__v")
        )
        cents = spark.createDataFrame(
            [(0, s, c) for s, c in enumerate(init)],
            "bid int, scid int, cv array<double>",
        )
        with pytest.raises(
            PythonException, match=f"ValueError: kmeans_lloyd_grouped: {text}"
        ):
            S.kmeans_lloyd_grouped(grouped, cents, iters=1)


def test_semdedup_auto_sizes_quantizer_and_keeps_one_per_component(spark):
    """semdedup_auto must derive nlist from N/target (2 well-separated
    blobs of 40 with target 40 → 2 clusters), keep exactly one row per
    component, and return the same schema as semdedup."""
    from taxi_rides_ny_duckdb_spark.operators.similarity import semdedup_auto

    rows = []
    for i in range(40):
        rows.append((i, [5.0 + 0.001 * i, 5.0, 1.0, 0.0]))
        rows.append((100 + i, [-5.0 - 0.001 * i, 5.0, -1.0, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup_auto(df, target_cluster_size=40, threshold=0.999).collect()
    assert len(out) == 80
    assert {r["centroid_id"] for r in out} == {0, 1}
    by_comp = {}
    for r in out:
        by_comp.setdefault(r["component"], []).append(r)
    for comp_rows in by_comp.values():
        assert sum(r["keep"] for r in comp_rows) == 1
    # near-identical blob members must collapse into one component each
    assert len(by_comp) == 2
    # determinism across reruns
    again = semdedup_auto(df, target_cluster_size=40, threshold=0.999).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_semdedup_auto_two_level_collapses_exact_dups_like_flat(spark):
    """The hierarchical path (forced via max_flat_nlist=0) must agree
    with the flat path on what can't depend on quantizer choice:
    exact duplicates (cosine 1.0) always land in one leaf together,
    so their components, the total row count, the one-keep-per-
    component invariant, and determinism across reruns must all hold
    identically (VERDICT r9 task 1)."""
    from taxi_rides_ny_duckdb_spark.operators.similarity import semdedup_auto

    rows = []
    for i in range(90):
        base = [0.0] * 8
        base[i % 3] = 1.0
        base[3 + (i % 5)] = 0.1 * ((i // 3) % 4)
        rows.append((i, [float(x) for x in base]))
    for k in range(5):  # exact dups of ids 0..4
        rows.append((100 + k, rows[k][1]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    flat = semdedup_auto(
        df, target_cluster_size=5, threshold=0.999, max_flat_nlist=10_000
    ).collect()
    hier = semdedup_auto(
        df, target_cluster_size=5, threshold=0.999, max_flat_nlist=0
    ).collect()
    assert len(flat) == len(hier) == 95
    for out in (flat, hier):
        m = {r["vec_id"]: r["component"] for r in out}
        for k in range(5):
            assert m[k] == m[100 + k], "exact dup split across components"
        by_comp: dict = {}
        for r in out:
            by_comp.setdefault(r["component"], []).append(r)
        for comp_rows in by_comp.values():
            assert sum(r["keep"] for r in comp_rows) == 1
    # leaf ids are densified 0..n-1 ints in the hier path too
    cents = sorted({r["centroid_id"] for r in hier})
    assert cents[0] == 0 and cents == list(range(len(cents)))
    again = semdedup_auto(
        df, target_cluster_size=5, threshold=0.999, max_flat_nlist=0
    ).collect()
    assert sorted(map(tuple, hier)) == sorted(map(tuple, again))


def test_semdedup_auto_three_level_collapses_exact_dups_like_flat(spark):
    """The r11 L-level recursion at levels=3: same quantizer-choice-
    independent invariants as the two-level test (exact dups share a
    leaf hence a component; one keep per component; densified leaf
    ids; determinism), plus the auto depth rule — a branch factor
    above max_branch must force levels up."""
    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        _int_ceil_root,
        semdedup_auto,
    )

    rows = []
    for i in range(90):
        base = [0.0] * 8
        base[i % 3] = 1.0
        base[3 + (i % 5)] = 0.1 * ((i // 3) % 4)
        rows.append((i, [float(x) for x in base]))
    for k in range(5):  # exact dups of ids 0..4
        rows.append((100 + k, rows[k][1]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup_auto(
        df, target_cluster_size=5, threshold=0.999, max_flat_nlist=0,
        levels=3,
    ).collect()
    assert len(out) == 95
    m = {r["vec_id"]: r["component"] for r in out}
    for k in range(5):
        assert m[k] == m[100 + k], "exact dup split across components"
    by_comp: dict = {}
    for r in out:
        by_comp.setdefault(r["component"], []).append(r)
    for comp_rows in by_comp.values():
        assert sum(r["keep"] for r in comp_rows) == 1
    cents = sorted({r["centroid_id"] for r in out})
    assert cents[0] == 0 and cents == list(range(len(cents)))
    again = semdedup_auto(
        df, target_cluster_size=5, threshold=0.999, max_flat_nlist=0,
        levels=3,
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # depth rule: smallest L with ceil-root(nlist, L) <= max_branch
    # (default 64 — the measured per-level-machinery crossover)
    assert _int_ceil_root(2000, 2) == 45     # <= 64: L=2 at sf1x
    assert _int_ceil_root(20000, 2) == 142   # cap exceeded at sf10x...
    assert _int_ceil_root(20000, 3) == 28    # ...L=3 chosen
    assert _int_ceil_root(2_000_000, 3) == 126  # next decade-ish...
    assert _int_ceil_root(2_000_000, 4) == 38   # ...L=4 takes over
    assert _int_ceil_root(125, 3) == 5 and _int_ceil_root(1, 5) == 1


def test_kmeans_lloyd_grouped_carries_empty_subcluster(spark):
    """A sub-centroid that attracts no member keeps its previous
    coordinates (the flat trainer's empty-cluster rule, grouped form);
    non-empty sub-clusters move to their members' 9dp-rounded mean."""
    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        kmeans_lloyd_grouped,
    )

    vecs = spark.createDataFrame(
        [(1, 0, [0.0, 0.2]), (2, 0, [0.2, 0.0]), (3, 0, [0.1, 0.1])],
        "vec_id long, bid int, __v array<double>",
    )
    cents = spark.createDataFrame(
        [(0, 0, [0.0, 0.0]), (0, 1, [99.0, 99.0])],
        "bid int, scid int, cv array<double>",
    )
    out = {
        (r["bid"], r["scid"]): r["cv"]
        for r in kmeans_lloyd_grouped(vecs, cents, iters=2).collect()
    }
    assert out[(0, 1)] == [99.0, 99.0], "empty sub-cluster must carry"
    assert out[(0, 0)] == [0.1, 0.1]


def test_kmeans_train_assign_grouped_matches_unfused_pipeline(spark):
    """The fused per-level pass (in-task init + train + assign) must
    equal the unfused chain replayed in pure Python per group:
    k = _int_ceil_root(ceil(cnt/T), s), init = first k by id, trained
    centroids == ``_ref_lloyd`` from that init, assignments ==
    ``_ref_argmin`` against the trained centroids — and the centroid
    rows must be the COMPLETE k-per-group set (including sub-clusters
    that end up empty), because the downstream dense numbering the
    oracle replays counts empty leaves."""
    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        _int_ceil_root,
        kmeans_train_assign_grouped,
    )

    # group 0: 5 members (T=2, s=2 ⇒ m=3, k=2); group 1: 1 member
    # (k=1); group 2: 12 spread members (m=6, k=3) whose centroids
    # move. Group 0's members are IDENTICAL, so both init centroids
    # coincide and every member ties to the LOWER scid — scid 1 is a
    # truly EMPTY trained sub-cluster (carries its init).
    rows = [
        (10, 0, [0.0, 0.0]), (11, 0, [0.0, 0.0]), (12, 0, [0.0, 0.0]),
        (13, 0, [0.0, 0.0]), (14, 0, [0.0, 0.0]),
        (20, 1, [5.0, 5.0]),
    ] + [
        (30 + i, 2, [0.3 * (i % 4) - 0.45, 0.1 * i - 0.55]) for i in range(12)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, bid int, __v array<double>")
    T, s, iters = 2, 2, 2
    fused = kmeans_train_assign_grouped(vecs, T, s, iters=iters).collect()
    f_cents = {
        (r["bid"], r["scid"]): r["cv"] for r in fused if r["vec_id"] is None
    }
    f_asg = {
        r["vec_id"]: (r["bid"], r["scid"], r["__v"])
        for r in fused if r["vec_id"] is not None
    }
    assert len(f_asg) == len(rows)

    want_cents: dict = {}
    want_asg: dict = {}
    by_bid: dict = {}
    for vid, bid, v in rows:
        by_bid.setdefault(bid, []).append((vid, v))
    for bid, members in by_bid.items():
        members.sort()
        k = _int_ceil_root((len(members) + T - 1) // T, s)
        vs = [v for _vid, v in members]
        C = _ref_lloyd(vs, vs[:k], iters)
        for scid, c in enumerate(C):
            want_cents[(bid, scid)] = c
        for vid, v in members:
            want_asg[vid] = (bid, _ref_argmin(v, C), v)
    assert f_cents == want_cents, "trained centroids must match the replay"
    assert f_asg == want_asg, "assignments must match the replay"
    assert f_cents[(2, 0)] != by_bid[2][0][1], "group 2 must train"
    # the empty sub-cluster is present in the centroid rows
    assert (0, 1) in f_cents
    assigned_scids = {(b, sc) for b, sc, _ in f_asg.values()}
    assert (0, 1) not in assigned_scids, "test needs a truly empty leaf"


def test_kmeans_lloyd_fused_gate_matches_arrow(spark, monkeypatch):
    """The r13 fused single-task gate (below
    _FUSED_LLOYD_MAX_ROWS/_CELLS) must return bit-identical centroids
    AND sizes to the distributed arrow loop — including the
    kmeans_lloyd sizes contract (LAST iteration's M-step counts, empty
    clusters absent from the dict, carried centroids present)."""
    from taxi_rides_ny_duckdb_spark.operators import similarity as S

    rows = [
        (i, [float(i % 7) * 0.25 + 0.01 * i, float(i % 3) - 1.0, 0.125 * i])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    init = [rows[0][1], rows[1][1], [99.0, 99.0, 99.0]]  # third stays empty
    cf, sf = S.kmeans_lloyd(df, init, iters=3)  # gate fires
    monkeypatch.setattr(S, "_FUSED_LLOYD_MAX_ROWS", 0)
    ca, sa = S.kmeans_lloyd(df, init, iters=3)
    assert cf == ca
    assert sf == sa
    assert 2 not in sf and cf[2] == init[2], "empty cluster carries init"


def test_kmeans_lloyd_first_k_init_matches_explicit(spark, monkeypatch):
    """init='first_k' (r13: init selection folded into the operator)
    must return the identical (centroids, sizes) as an explicit
    first-k-by-id init — below the fused gate (in-task selection) AND
    above it (TakeOrdered collect + distributed loop), including
    k > n (init = all n rows)."""
    from taxi_rides_ny_duckdb_spark.operators import similarity as S

    rows = [
        (i, [float(i % 7) * 0.25 + 0.01 * i, float(i % 3) - 1.0, 0.125 * i])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    init3 = [rows[0][1], rows[1][1], rows[2][1]]

    exp = S.kmeans_lloyd(df, init3, iters=3)
    got = S.kmeans_lloyd(df, "first_k", k=3, iters=3)
    assert got == exp
    monkeypatch.setattr(S, "_FUSED_LLOYD_MAX_ROWS", 0)
    got_dist = S.kmeans_lloyd(df, "first_k", k=3, iters=3)
    monkeypatch.undo()
    assert got_dist == exp
    # k > n: init = every row
    small = df.filter("vec_id < 2")
    exp2 = S.kmeans_lloyd(small, [rows[0][1], rows[1][1]], iters=2)
    got2 = S.kmeans_lloyd(small, "first_k", k=5, iters=2)
    assert got2 == exp2

    import pytest as _pytest
    with _pytest.raises(ValueError, match="first_k"):
        S.kmeans_lloyd(df, "first_k", iters=1)  # no k


def test_kmeans_lloyd_empty_corpus_names_the_corpus(spark, monkeypatch):
    """An empty corpus raises an empty-corpus error on BOTH sides of
    the fused gate — for init='first_k' too, where the old 'init
    centroids must be non-empty' message blamed an argument the caller
    never passed."""
    import pytest as _pytest

    from taxi_rides_ny_duckdb_spark.operators import similarity as S

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    for gate in (S._FUSED_LLOYD_MAX_ROWS, 0):
        monkeypatch.setattr(S, "_FUSED_LLOYD_MAX_ROWS", gate)
        for init, k in (("first_k", 3), ([[0.0, 1.0]], None)):
            with _pytest.raises(ValueError, match="empty corpus") as e:
                S.kmeans_lloyd(empty, init, k=k, iters=1)
            assert "init" not in str(e.value), (gate, init)


def test_semdedup_auto_fused_gates_match_unfused(spark, monkeypatch):
    """The r13 fused whole-corpus gates (flat and multilevel-coarse)
    must reproduce the unfused init-collect + kmeans_lloyd +
    assignment-pass pipeline row-for-row — keep flags, components,
    cent_sim_r and centroid numbering included."""
    from taxi_rides_ny_duckdb_spark.operators import similarity as S

    rows = [
        (i, [float((i * 7) % 13) / 13.0, float((i * 5) % 11) / 11.0,
             float(i % 4) / 4.0, 1.0])
        for i in range(60)
    ] + [(100, [0.5, 0.5, 0.5, 1.0]), (101, [0.5, 0.5, 0.5, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def rowset(frame):
        return sorted(tuple(r) for r in frame.collect())

    for kwargs in (
        dict(target_cluster_size=8, threshold=0.9),                 # flat
        dict(target_cluster_size=4, threshold=0.9,
             max_flat_nlist=0, levels=2),                           # L2 tower
    ):
        fused = rowset(S.semdedup_auto(df, iters=2, **kwargs))
        monkeypatch.setattr(S, "_FUSED_LLOYD_MAX_ROWS", 0)
        unfused = rowset(S.semdedup_auto(df, iters=2, **kwargs))
        monkeypatch.undo()
        assert fused == unfused, kwargs


def test_embedding_near_dup_pairs_matches_join_form(spark):
    """The r13 per-bucket Arrow pairing must reproduce the
    signature-keyed self-join + cosine_given_norms form row-for-row —
    bucket membership, rounded scores, the threshold boundary and
    zero-norm rows included — at three thresholds."""
    from pyspark.sql import functions as F

    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        _as_double_array,
        cosine_given_norms,
        embedding_near_dup_pairs,
        l2_norm,
        rh_signature,
    )

    rows = [
        (i, [float((i * 7) % 13) / 13.0, float((i * 5) % 11) / 11.0,
             float(i % 4) / 4.0, 1.0])
        for i in range(80)
    ] + [
        (100, [0.5, 0.5, 0.5, 1.0]), (101, [0.5, 0.5, 0.5, 1.0]),
        (102, [0.0, 0.0, 0.0, 0.0]), (103, [0.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def join_form(threshold):
        sig = df.select(
            "vec_id",
            _as_double_array(F.col("embedding")).alias("__v"),
            rh_signature(F.col("embedding"), 4, 3).alias("__sig"),
        ).withColumn("__n", l2_norm(F.col("__v")))
        a, b = sig.alias("a").hint("merge"), sig.alias("b")
        score = F.round(
            cosine_given_norms(
                F.col("a.__v"), F.col("b.__v"), F.col("a.__n"), F.col("b.__n")
            ),
            9,
        )
        return (
            a.join(
                b,
                (F.col("a.__sig") == F.col("b.__sig"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(
                F.col("a.vec_id").alias("id_a"),
                F.col("b.vec_id").alias("id_b"),
                score.alias("cosine_sim"),
            )
            .filter(F.col("cosine_sim") >= threshold)
        )

    def rowset(frame):
        return sorted(tuple(r) for r in frame.collect())

    for threshold in (0.3, 0.9, 0.5):
        fused = rowset(embedding_near_dup_pairs(
            df, threshold=threshold, dim=4, bits=3))
        joined = rowset(join_form(threshold))
        assert fused == joined, threshold
        assert len(fused) > 0, threshold


def test_hard_negative_mine_fused_matches_unfused(spark, monkeypatch):
    """The single-task hard-negative miner must reproduce, row for
    row, its above-gate fallback — the pair self-join +
    connected_components + hard_negative_topk (and the _ann twin)
    composition — components (incl. transitive chains and
    self-singletons), candidate sets, rounded scores, rank ties to the
    lower id — for the exact AND the IVF-probed variant."""
    from pyspark.sql import functions as F

    from taxi_rides_ny_duckdb_spark.operators import similarity as S

    rows = [
        (i, [float((i * 7) % 13) / 13.0, float((i * 5) % 11) / 11.0,
             float(i % 4) / 4.0 + 0.1])
        for i in range(24)
    ] + [
        (30, [0.5, 0.5, 0.5]), (31, [0.5, 0.5, 0.5]),  # exact dups
        (32, [0.0, 0.0, 0.0]),                          # zero-norm
    ]
    cents = [[1.0, 0.0, 0.2], [0.0, 1.0, 0.2], [0.5, 0.5, 0.5]]
    vq = spark.createDataFrame(
        rows, "vec_id long, ev array<double>"
    ).withColumn("is_query", F.col("vec_id") < 4)

    def rowset(frame):
        return sorted(tuple(r) for r in frame.collect())

    for kwargs in (
        dict(),
        dict(centroids=cents, nprobe=2),
    ):
        fused = rowset(S.hard_negative_mine_fused(
            vq, pair_threshold=0.9, k=3, **kwargs))
        monkeypatch.setattr(S, "_FUSED_LLOYD_MAX_ROWS", 0)
        unfused = rowset(S.hard_negative_mine_fused(
            vq, pair_threshold=0.9, k=3, **kwargs))
        monkeypatch.undo()
        assert fused == unfused, kwargs
        assert len(fused) > 0, kwargs


def test_semdedup_frozen_fused_matches_unfused(spark, monkeypatch):
    """The fused frozen-centroid gate (semdedup below
    _FUSED_LLOYD_MAX_ROWS/_CELLS) must reproduce the distributed
    per-partition assignment + per-cluster-collapse pipeline
    row-for-row — assignment (incl. rounded-distance ties to the lower
    cid), components, cent_sim_r and keep flags — at two thresholds.
    Both sides
    share one numpy assignment kernel, so centroid_id is also checked
    against the Spark-expression assign_nearest_centroid."""
    from taxi_rides_ny_duckdb_spark.operators import similarity as S

    cents = [[1.0, 0.0], [0.0, 1.0], [0.6, 0.8]]
    rows = [
        (1, [1.0, 0.01]),    # cluster 0
        (2, [1.0, 0.02]),    # near-dup of 1
        (3, [0.9, 0.2]),     # cluster 0, not a dup at high τ
        (4, [0.72, 0.69]),   # near the 0.6/0.8 centroid
        (5, [0.69, 0.72]),
        (6, [0.01, 1.0]),    # cluster 1
        (7, [0.01, 1.0]),    # exact dup of 6 (cent_sim tie → lower id)
        (8, [0.0, 0.0]),     # zero-norm singleton
        (9, [0.5, 0.5]),     # equidistant-ish: rounded-distance ties
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def rowset(frame):
        return sorted(tuple(r) for r in frame.collect())

    for threshold in (0.999, 0.9):
        fused = rowset(S.semdedup(df, cents, threshold=threshold))
        monkeypatch.setattr(S, "_FUSED_LLOYD_MAX_ROWS", 0)
        unfused = rowset(S.semdedup(df, cents, threshold=threshold))
        monkeypatch.undo()
        assert fused == unfused, threshold
        expr = rowset(
            S.assign_nearest_centroid(df, cents).select("vec_id", "centroid_id")
        )
        assert [(r[0], r[1]) for r in fused] == expr, threshold


def test_semdedup_auto_validates(spark):
    import pytest as _pytest

    from taxi_rides_ny_duckdb_spark.operators.similarity import semdedup_auto

    df = spark.createDataFrame(
        [(1, [0.0])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="target_cluster_size"):
        semdedup_auto(df, target_cluster_size=0, threshold=0.5)
    empty = df.filter("vec_id < 0")
    with _pytest.raises(ValueError, match="non-empty"):
        semdedup_auto(empty, target_cluster_size=10, threshold=0.5)


def test_quality_bucket_mix_semantics(spark):
    from taxi_rides_ny_duckdb_spark.operators.sampling import quality_bucket_mix

    # scores 0..99; quartile cuts at 24.75/49.5/74.25
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id long, score double"
    )
    out = quality_bucket_mix(df, "id", "score", [1.0, 1.0, 1.0, 1.0]).collect()
    # keep-all fractions: every row survives, buckets are quartiles
    assert len(out) == 100
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r["score"])
    assert sorted(by_bucket) == [0, 1, 2, 3]
    assert max(by_bucket[0]) < min(by_bucket[1])
    assert max(by_bucket[2]) < min(by_bucket[3])
    # zero fraction for the worst bucket drops it entirely
    out2 = quality_bucket_mix(df, "id", "score", [1.0, 1.0, 1.0, 0.0]).collect()
    assert all(r["bucket"] != 3 for r in out2)


def test_quality_bucket_mix_validates(spark):
    import pytest as _pytest

    from taxi_rides_ny_duckdb_spark.operators.sampling import quality_bucket_mix

    df = spark.createDataFrame([(1, 1.0)], "id long, score double")
    with _pytest.raises(ValueError, match="2 buckets"):
        quality_bucket_mix(df, "id", "score", [1.0])
    with _pytest.raises(ValueError, match="keep_fractions"):
        quality_bucket_mix(df, "id", "score", [1.0, 1.5])


def test_token_budget_select_semantics(spark):
    from taxi_rides_ny_duckdb_spark.operators.sampling import token_budget_select

    rows = [
        # (id, score, tokens) — global order by (score desc, id asc)
        (1, 0.9, 10),
        (2, 0.9, 10),
        (3, 0.5, 30),
        (4, 0.2, 100),
        (5, None, 5),   # NULL score excluded
        (6, 0.4, None), # NULL tokens excluded
    ]
    df = spark.createDataFrame(rows, "id bigint, score double, tokens bigint")
    out = token_budget_select(df, "id", "score", "tokens", budget=50, n_buckets=4)
    got = {r["id"]: (r["cum_tokens"], r["keep"]) for r in out.collect()}
    # order: 1 (10), 2 (20), 3 (50), 4 (150); budget 50 inclusive
    assert got == {1: (10, True), 2: (20, True), 3: (50, True), 4: (150, False)}
    # budget 0 keeps nothing but still returns every priced row
    out0 = token_budget_select(df, "id", "score", "tokens", budget=0)
    assert [r["keep"] for r in out0.collect()] == [False] * 4


def test_token_budget_select_matches_global_window(spark):
    """The bucketed prefix sum must equal the single-window form for a
    continuous score column at every bucket width."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window
    from taxi_rides_ny_duckdb_spark.operators.sampling import token_budget_select

    df = (
        spark.range(200)
        .select(
            F.col("id"),
            (F.sin(F.col("id").cast("double")) * 0.5 + 0.5).alias("score"),
            (F.col("id") % 17 + 1).cast("bigint").alias("tokens"),
        )
        .cache()
    )
    w = Window.orderBy(F.col("score").desc(), F.col("id").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    expect = {
        r["id"]: r["cum"]
        for r in df.select("id", F.sum("tokens").over(w).alias("cum")).collect()
    }
    for n_buckets in (1, 7, 64):
        out = token_budget_select(
            df, "id", "score", "tokens", budget=500, n_buckets=n_buckets
        )
        got = {r["id"]: r["cum_tokens"] for r in out.collect()}
        assert got == expect, f"n_buckets={n_buckets}"


def test_source_ngram_overlap_toy(spark):
    from taxi_rides_ny_duckdb_spark.operators.cleaning import source_ngram_overlap

    docs = spark.createDataFrame(
        [
            # srcA shingles: {a b c, b c d} ; srcB: {a b c} ; srcC: {x y z}
            ("A", "a b c d"),
            ("B", "a b c"),
            ("C", "x y z"),
            ("C", "x y"),  # too short for 3-grams — contributes nothing
        ],
        "source string, text string",
    )
    out = source_ngram_overlap(docs, "text", "source", n=3)
    rows = {(r["group_a"], r["group_b"]): r for r in out.collect()}
    assert set(rows) == {("A", "B"), ("A", "C"), ("B", "C")}
    ab = rows[("A", "B")]
    assert (ab["n_a"], ab["n_b"], ab["n_common"]) == (2, 1, 1)
    assert abs(ab["jaccard_r"] - 0.5) < 1e-9
    assert abs(ab["containment_r"] - 1.0) < 1e-9
    ac = rows[("A", "C")]
    assert ac["n_common"] == 0 and ac["jaccard_r"] == 0.0


def test_pq_assign_matches_grouped_cogroup_path(spark):
    """pq_train's codebooks and pq_assign's codes must equal the
    pure-Python Lloyd replay per subspace — the arithmetic the SQL
    oracle replays over the exploded subvectors: init = the first ksub
    subvectors by id, ``_ref_lloyd`` training, ``_ref_argmin`` codes
    (ties to the lower scid) — the bit-equality that makes ext_pq_topk
    oracle-able."""
    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        pq_assign,
        pq_train,
    )

    random.seed(23)
    dim, m, ksub, iters = 12, 3, 4, 2
    rows = [(i, [random.uniform(-1, 1) for _ in range(dim)]) for i in range(80)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_train(vecs, dim=dim, m_sub=m, ksub=ksub, iters=iters)
    got_cb = {(r["sub_id"], r["scid"]): r["cv"] for r in cb.collect()}
    got = {
        r["vec_id"]: list(r["codes"])
        for r in pq_assign(vecs, cb, dim=dim, m_sub=m).collect()
    }
    dsub = dim // m
    want_cb: dict = {}
    want: dict[int, list[int]] = {i: [] for i, _ in rows}
    for s in range(m):
        subs = [v[s * dsub : (s + 1) * dsub] for _i, v in rows]
        C = _ref_lloyd(subs, subs[:ksub], iters)
        for scid, c in enumerate(C):
            want_cb[(s, scid)] = c
        for (i, _v), sv in zip(rows, subs):
            want[i].append(_ref_argmin(sv, C))
    assert got_cb == want_cb
    assert got == want


def test_pq_adc_exact_on_separable_corpus(spark):
    """When the corpus is k well-separated point masses the trained
    codebook converges onto them, quantization error is zero, and the
    ADC top-k must EQUAL the exact scaled-L2 top-k (recall 1.0) — the
    end-to-end invariant tying pq_train, pq_assign, pq_adc_topk and
    exact_l2_topk_scaled together."""
    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        ann_recall_at_k,
        exact_l2_topk_scaled,
        pq_adc_topk,
        pq_assign,
        pq_train,
    )

    dim, m, kcent = 8, 2, 4
    centers = [[float(10 * c + j % 2) for j in range(dim)] for c in range(kcent)]
    # first kcent ids hit distinct centers (the first-k-by-id init then
    # starts one sub-centroid per mass); copies follow
    rows = [(i, centers[i % kcent]) for i in range(20)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_train(vecs, dim=dim, m_sub=m, ksub=kcent, iters=2)
    codes = pq_assign(vecs, cb, dim=dim, m_sub=m)
    q = centers[1]
    ann = pq_adc_topk(codes, cb, q, k=8, m_sub=m)
    exact = exact_l2_topk_scaled(vecs, q, k=8)
    a = [(r["rank"], r["vec_id"], r["adc_d2"]) for r in ann.collect()]
    e = [(r["rank"], r["vec_id"], r["d2"]) for r in exact.collect()]
    assert a == e, (a, e)
    rec = ann_recall_at_k(
        ann.select(F.lit(0).alias("query_id"), "rank", "vec_id"),
        exact.select(F.lit(0).alias("query_id"), "rank", "vec_id"),
        k=8,
    ).collect()[0]
    assert rec["recall_at_k"] == 1.0


def test_pq_adc_plan_is_take_ordered_no_wide_shuffle(spark):
    """The ADC query path must plan as TakeOrderedAndProject over the
    codes scan — per-partition heaps, no global sort; the only
    Exchange allowed is the SinglePartition move of the ≤k surviving
    rows into the rank window."""
    import random

    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        pq_adc_topk,
        pq_assign,
        pq_train,
    )

    random.seed(5)
    dim, m = 8, 2
    rows = [(i, [random.uniform(-1, 1) for _ in range(dim)]) for i in range(50)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_train(vecs, dim=dim, m_sub=m, ksub=4, iters=1)
    codes = pq_assign(vecs, cb, dim=dim, m_sub=m)
    plan = (
        pq_adc_topk(codes, cb, rows[0][1], k=5, m_sub=m)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "TakeOrdered" in plan.replace("\n", " ") or "Limit" in plan
    # physical check: TakeOrderedAndProject under the window's input
    phys = (
        pq_adc_topk(codes, cb, rows[0][1], k=5, m_sub=m)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in phys
    assert phys.count("Exchange") <= 1, phys


def test_pq_assign_carry_cols_passthrough(spark):
    """carry_cols must ride the Arrow scan untouched and change no
    codes — the IVF-PQ list-id plumbing (no corpus re-join)."""
    import random

    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        pq_assign,
        pq_train,
    )

    random.seed(31)
    dim, m = 8, 2
    rows = [
        (i, [random.uniform(-1, 1) for _ in range(dim)], i % 3)
        for i in range(40)
    ]
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, tag int"
    )
    cb = pq_train(vecs, dim=dim, m_sub=m, ksub=4, iters=1)
    plain = {
        r["vec_id"]: list(r["codes"])
        for r in pq_assign(vecs, cb, dim=dim, m_sub=m).collect()
    }
    carried = pq_assign(
        vecs, cb, dim=dim, m_sub=m, carry_cols=("tag",)
    ).collect()
    assert {r["vec_id"]: list(r["codes"]) for r in carried} == plain
    assert {r["vec_id"]: r["tag"] for r in carried} == {
        i: t for i, _, t in rows
    }


def test_ivfpq_separable_masses_probe_and_recall(spark):
    """On a corpus of well-separated point masses with the mass
    centers as frozen coarse centroids, residuals are ZERO, the
    residual codebook is exact, and nprobe=1 IVF-PQ must return
    exactly the query's own mass — every returned row from the probed
    list, adc_d2 = 0, ranks by id. The end-to-end invariant tying
    ivfpq_encode (assignment → residual → grouped-Lloyd codebooks →
    carry-col codes) to ivfpq_adc_topk (probe ranking → residual LUT
    → Arrow-gather ADC)."""
    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        ivfpq_adc_topk,
        ivfpq_encode,
    )

    dim, m, n_mass = 8, 2, 4
    centers = [[float(100 * c + (j % 3)) for j in range(dim)] for c in range(n_mass)]
    rows = [(i, centers[i % n_mass]) for i in range(24)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb, codes = ivfpq_encode(
        vecs, centers, dim=dim, m_sub=m, ksub=2, iters=1
    )
    got = ivfpq_adc_topk(
        codes, cb, centers, centers[2], k=6, m_sub=m, nprobe=1
    ).collect()
    assert [r["vec_id"] for r in got] == [2, 6, 10, 14, 18, 22]
    assert all(r["list_id"] == 2 for r in got)
    assert all(r["adc_d2"] == 0 for r in got)
    assert [r["rank"] for r in got] == [1, 2, 3, 4, 5, 6]


def test_ivfpq_probe_count_bounds_candidates(spark):
    """nprobe=2 scores exactly the two nearest lists' members (ties to
    the lower list id) and no one else — the probed-scan contract that
    makes IVF-PQ ~nlist/nprobe cheaper than flat ADC."""
    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        ivfpq_adc_topk,
        ivfpq_encode,
    )

    dim, m = 4, 2
    centers = [[float(10 * c)] * dim for c in range(4)]
    rows = [(i, centers[i % 4]) for i in range(16)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb, codes = ivfpq_encode(vecs, centers, dim=dim, m_sub=m, ksub=2, iters=1)
    # query between lists 1 and 2, nearer 1
    q = [14.0] * dim
    got = ivfpq_adc_topk(codes, cb, centers, q, k=16, m_sub=m, nprobe=2)
    lists = {r["list_id"] for r in got.collect()}
    assert lists == {1, 2}


def _null_codes_error(run):
    from pyspark.errors import PythonException

    with pytest.raises(PythonException) as e:
        run().collect()
    return str(e.value)


def test_pq_adc_topk_null_codes_raise_malformed(spark):
    """A NULL codes row stops the ADC gather with the documented
    'malformed codes' ValueError (not numpy's opaque TypeError from
    np.asarray on a None row)."""
    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        pq_adc_topk,
        pq_train,
    )

    dim, m = 4, 2
    vecs = spark.createDataFrame(
        [(i, [float(i % 2)] * dim) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    cb = pq_train(vecs, dim=dim, m_sub=m, ksub=2, iters=1)
    codes = spark.createDataFrame(
        [(1, [0, 1]), (2, None), (3, [1, 1])], "vec_id long, codes array<int>"
    )
    msg = _null_codes_error(
        lambda: pq_adc_topk(codes, cb, [0.0] * dim, k=2, m_sub=m)
    )
    assert "ValueError: pq_adc_topk: malformed codes" in msg
    assert "TypeError" not in msg


def test_ivfpq_adc_topk_null_codes_raise_malformed(spark):
    """The probed IVF-PQ gather applies the same NULL-codes check."""
    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        ivfpq_adc_topk,
        ivfpq_encode,
    )

    dim, m = 4, 2
    centers = [[float(10 * c)] * dim for c in range(2)]
    vecs = spark.createDataFrame(
        [(i, centers[i % 2]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    cb, _ = ivfpq_encode(vecs, centers, dim=dim, m_sub=m, ksub=2, iters=1)
    codes = spark.createDataFrame(
        [(1, [0, 1], 0), (2, None, 0), (3, [1, 1], 1)],
        "vec_id long, codes array<int>, list_id int",
    )
    msg = _null_codes_error(
        lambda: ivfpq_adc_topk(
            codes, cb, centers, centers[0], k=2, m_sub=m, nprobe=2
        )
    )
    assert "ValueError: ivfpq_adc_topk: malformed codes" in msg
    assert "TypeError" not in msg


def test_ranking_quality_perfect_and_disjoint(spark):
    """A ranking identical to the truth scores 1.0 on every metric; a
    ranking sharing nothing scores 0 with n_hit=0 (and still emits the
    query row — ground truth defines the query set)."""
    from taxi_rides_ny_duckdb_spark.operators.similarity import ranking_quality

    truth = spark.createDataFrame(
        [(1, r, 100 + r) for r in range(1, 4)],
        "query_id long, rank int, vec_id long",
    )
    perfect = ranking_quality(truth, truth, k=3).collect()[0]
    assert perfect["n_true"] == 3 and perfect["n_hit"] == 3
    assert perfect["precision_at_k"] == 1.0
    assert perfect["mrr_at_k"] == 1.0
    assert perfect["ndcg_at_k"] == 1.0
    miss = spark.createDataFrame(
        [(1, r, 900 + r) for r in range(1, 4)],
        "query_id long, rank int, vec_id long",
    )
    none = ranking_quality(miss, truth, k=3).collect()[0]
    assert none["n_hit"] == 0
    assert none["precision_at_k"] == 0.0
    assert none["mrr_at_k"] == 0.0
    assert none["ndcg_at_k"] == 0.0


def test_ranking_quality_hand_computed_partial(spark):
    """One hit at ANN rank 2 carrying truth-rank-1 gain: MRR = 1/2,
    DCG = k·disc(2), NDCG = that over the full IDCG — checked against
    the same closed forms the operator inlines."""
    import math

    from taxi_rides_ny_duckdb_spark.operators.similarity import ranking_quality

    k = 3
    truth = spark.createDataFrame(
        [(7, 1, 10), (7, 2, 11), (7, 3, 12)],
        "query_id long, rank int, vec_id long",
    )
    ann = spark.createDataFrame(
        [(7, 1, 99), (7, 2, 10), (7, 3, 98)],
        "query_id long, rank int, vec_id long",
    )
    got = ranking_quality(ann, truth, k=k).collect()[0]
    disc = [1.0 / math.log2(i + 1) for i in range(1, k + 1)]
    idcg = sum((k - i) * disc[i - 1] for i in range(1, k + 1)) + sum(
        disc[i - 1] for i in range(1, k + 1)
    )  # == sum((k-i+1)*disc(i))
    dcg = round(3 * disc[1], 12)
    assert got["n_hit"] == 1
    assert got["mrr_at_k"] == 0.5
    assert got["ndcg_at_k"] == round(dcg / idcg, 9)


@pytest.mark.filterwarnings("error::RuntimeWarning")
def test_brute_force_topk_int64_matches_metric_and_guards(spark, sf_dir):
    """The scaled-int64 GT producer: (a) a query drawn from the corpus
    ranks itself first at cosine 1.0 − O(ulp) (own dot == own squared
    norm exactly in integer math; the final n/(√n·√n) leaves ≤1 ulp of
    float residue — deterministic, part of the defined metric); (b)
    the returned cosine agrees with the
    float-fold cosine within the quantization envelope (~1e-6 at
    scale=1e6); (c) the 2^53 overflow/precision guard raises on
    coordinates too large for the scale — asserted for BOTH magnitude
    regimes independently and for a corpus-side-only oversized batch
    (VERDICT r11 defect #1: the former np.int64 guard product wrapped
    for |xi| ≳ 3.8e8 and could fail open; the 2e3 row sailed through
    while the 1e3 row raised by wrap luck). RuntimeWarnings from the
    wrapping arithmetic escalate to errors via the filterwarnings
    marker."""
    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_int64,
    )
    from taxi_rides_ny_duckdb_spark.sources.registry import load

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 4").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    got = brute_force_topk_int64(emb, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3}
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert rows[0]["vec_id"] == q
        assert abs(rows[0]["cosine_sim"] - 1.0) < 1e-12
    flt = {
        (r["query_id"], r["vec_id"]): r["cosine_sim"]
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    for r in got:
        key = (r["query_id"], r["vec_id"])
        if key in flt:
            assert abs(r["cosine_sim"] - flt[key]) < 5e-6

    # Each magnitude alone must raise (scaled |xi| = 1e9 and 2e9 — both
    # past the hi ≳ 3.8e8 regime where the old int64 product wrapped):
    for mag in (1e3, 2e3):
        big = spark.createDataFrame(
            [(0, [mag] * 64)], "vec_id long, embedding array<double>"
        )
        bq = big.selectExpr("vec_id AS query_id", "embedding AS query_vec")
        with pytest.raises(Exception, match="2\\^53"):
            brute_force_topk_int64(big, bq, k=1).collect()
    # Corpus-side only: unit-scale queries pass the driver-side check,
    # so the raise must come from the executor-side batch scaling.
    small_q = spark.createDataFrame(
        [(0, [0.5] * 64)], "query_id long, query_vec array<double>"
    )
    big_corpus = spark.createDataFrame(
        [(0, [0.5] * 64), (1, [2e3] * 64)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="2\\^53"):
        brute_force_topk_int64(big_corpus, small_q, k=1).collect()
    # Stage-1 gate: coordinates whose scaled floats don't even fit
    # int64 (the astype itself would wrap) raise the coarse message.
    huge = spark.createDataFrame(
        [(0, [1e60] * 4)], "vec_id long, embedding array<double>"
    )
    hq = huge.selectExpr("vec_id AS query_id", "embedding AS query_vec")
    with pytest.raises(Exception, match="overflow int64"):
        brute_force_topk_int64(huge, hq, k=1).collect()


def test_binary_sign_words_packs_expected():
    """_pack_sign_bits_np packs coord>0 sign bits little-endian, 32 per
    word: hand-built vectors with known sign patterns must produce the
    exact word values (incl. the strictly-positive convention: an
    exact 0.0 packs as 0)."""
    import numpy as np

    from taxi_rides_ny_duckdb_spark.operators.similarity import _pack_sign_bits_np

    # vec A: dims 0 and 33 positive -> words [1, 2]; vec B: all
    # non-positive (incl. 0.0) -> [0, 0]; vec C: dims 31 and 63 -> sign
    # bits of each word as values 2**31.
    dim = 64
    a = [1.0 if i in (0, 33) else -1.0 for i in range(dim)]
    b = [0.0] * 32 + [-2.5] * 32
    c = [1.0 if i in (31, 63) else -0.1 for i in range(dim)]
    words = _pack_sign_bits_np(np.asarray([a, b, c], dtype=np.float64), dim)
    assert words.tolist() == [[1, 2], [0, 0], [2**31, 2**31]]


def test_round9_vectorized_matches_scalar(spark):
    """The vectorized twin ``round_half_up_np`` at ``PARITY_DP`` equals
    the scalar Decimal(repr(x)) form ``round_half_up`` — the
    engine-faithful one for |v| < 1e4 (both engines round the SHORTEST
    repr at fractional scales, r13) — on half-boundary witnesses, the
    ambiguity band, signs, a random grid over (-1e4, 1e4) and n-D
    input; plus a Spark F.round spot-check on the witnesses."""
    import numpy as np

    from pyspark.sql import functions as F

    from taxi_rides_ny_duckdb_spark.functions.parity import (
        PARITY_DP,
        round_half_up,
        round_half_up_np,
    )

    witnesses = [
        0.1234567895,        # repr says ...895, exact binary ...89499...
        0.4483493745,        # the r13 sf0.1 incident's class
        0.9999999985,
        0.0000000005,
        0.5000000005,
        0.4483493744999999,
        0.44834937450000004,
        1.0, 0.0, -0.0, 2.5e-10, -2.5e-10, 123.4567890125,
        -0.1234567895, -0.9999999985,
    ]
    rng = np.random.default_rng(7)
    grid = np.concatenate([
        np.asarray(witnesses, dtype=np.float64),
        rng.uniform(-2.0, 2.0, 4000),
        rng.uniform(-1e4, 1e4, 4000),
        rng.uniform(-1e-8, 1e-8, 1000),
        # dense sampling right at the half-boundary lattice
        (np.arange(-500, 500) + 0.5) / 1e9,
    ])
    got = round_half_up_np(grid, PARITY_DP)
    want = np.asarray([round_half_up(float(x), PARITY_DP) for x in grid])
    mism = np.nonzero(got != want)[0]
    assert len(mism) == 0, [(float(grid[i]), float(got[i]), float(want[i])) for i in mism[:5]]
    # n-D input rounds elementwise (the distance-matrix caller)
    mat = grid[:6000].reshape(100, 60)
    assert (round_half_up_np(mat, PARITY_DP) == got[:6000].reshape(100, 60)).all()
    # engine spot-check on the witnesses (F.round is the house target)
    df = spark.createDataFrame([(float(w),) for w in witnesses], "v double")
    eng = [r["r"] for r in df.select(F.round(F.col("v"), 9).alias("r")).collect()]
    vec = round_half_up_np(np.asarray(witnesses, dtype=np.float64), PARITY_DP)
    assert [float(x) for x in vec] == eng


def test_round_half_away_kernels_match_both_engines(spark):
    """The exact half-away kernels (ADVICE r12 fix) agree with DuckDB
    round() AND Spark F.round on boundary doubles where the old
    floor(v+0.5) formulation double-rounds — plus a random-grid sweep.
    v = 0.49999999999999994 (largest double < 0.5) is the canonical
    witness: +0.5 lands exactly on 1.0 under ties-to-even, so
    floor(v+0.5) = 1 while both engines round the exact value to 0."""
    import duckdb
    import numpy as np

    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        _round_half_away_int,
        _round_half_away_nonneg_i64,
        _round_half_away_signed_np,
    )

    b = 0.49999999999999994
    # the old form really is wrong here (regression witness)...
    assert np.floor(np.float64(b) + 0.5) == 1.0
    # ...and the kernels are right:
    assert _round_half_away_nonneg_i64(np.asarray([b]))[0] == 0
    assert _round_half_away_int(b) == 0
    assert list(_round_half_away_signed_np(np.asarray([b, -b, 0.5, -0.5]))) == [
        0.0,
        -0.0,
        1.0,
        -1.0,
    ]
    # grid sweep vs DuckDB round() — crafted boundaries + random draws
    rng = np.random.default_rng(12)
    vals = np.concatenate(
        [
            np.asarray([b, 0.5, 1.5, 2.5, np.nextafter(2.5, 0), 1e12 + 0.5]),
            rng.uniform(0, 4e12, 200),
            np.floor(rng.uniform(0, 1e6, 50)) + 0.5,  # exact .5 ties
        ]
    )
    duck = duckdb.sql(
        "SELECT CAST(round(x) AS BIGINT) FROM (SELECT unnest(?::DOUBLE[]) AS x)",
        params=[list(map(float, vals))],
    ).fetchall()
    got = _round_half_away_nonneg_i64(vals)
    assert [int(g) for g in got] == [r[0] for r in duck]
    # Spark F.round agrees on the canonical witness (positive + signed)
    row = spark.sql(
        f"SELECT CAST(round({b!r} * 1.0) AS BIGINT) AS p, "
        f"CAST(round(-{b!r} * 1.0) AS BIGINT) AS n"
    ).collect()[0]
    assert row["p"] == 0 and row["n"] == 0


def test_arrow_scan_input_shape_and_vec_matrix_contract(spark):
    """The r12 Arrow-scan input shape: (a) float32 sources ship
    un-widened (no Cast to array<double> in the scan projection — the
    plan-level pin of the f32 lever) while double sources keep the
    cast; (b) _vec_matrix slices to the first dim coordinates
    (preserving the old per-column projection's contract) and
    upcasts float32 exactly."""
    import numpy as np

    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        _arrow_vec_col,
        _vec_matrix,
        embedding_pool,
    )
    from pyspark.sql import functions as F

    f32 = spark.createDataFrame(
        [(0, [1.5, -2.5])], "vec_id long, embedding array<double>"
    ).select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    f64 = spark.createDataFrame(
        [(0, [1.5, -2.5])], "vec_id long, embedding array<double>"
    )
    plan32 = str(
        f32.select(_arrow_vec_col(f32, "embedding"))
        ._jdf.queryExecution()
        .optimizedPlan()
    ).lower()
    fint = f64.select(
        "vec_id", F.col("embedding").cast("array<int>").alias("embedding")
    )
    planint = str(
        fint.select(_arrow_vec_col(fint, "embedding"))
        ._jdf.queryExecution()
        .optimizedPlan()
    ).lower()
    assert "as array<double>" not in plan32  # ships f32 un-widened
    assert "as array<double>" in planint  # non-f32/f64 keeps the cast
    # a double source is already the target type (cast elided or
    # no-op either way): the selected column must BE array<double>
    assert (
        f64.select(_arrow_vec_col(f64, "embedding").alias("v"))
        .schema["v"]
        .dataType.simpleString()
        == "array<double>"
    )
    # _vec_matrix: slice + exact f32 upcast + empty shape
    import pandas as pd

    col = pd.Series([np.asarray([0.1, 0.2, 0.3], dtype=np.float32)])
    m = _vec_matrix(col, 2)
    assert m.shape == (1, 2) and m.dtype == np.float64
    assert m[0, 0] == np.float64(np.float32(0.1))  # exact upcast
    assert _vec_matrix(pd.Series([], dtype=object), 4).shape == (0, 4)
    # end-to-end: pooling a float32 source equals pooling the same
    # values pre-cast to double (bit-identical through both paths)
    a = embedding_pool(f32, "vec_id", dim=2).toPandas().sort_values("pos")
    b = embedding_pool(
        f32.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")),
        "vec_id",
        dim=2,
    ).toPandas().sort_values("pos")
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))


def test_vec_matrix_names_malformed_rows():
    """Malformed corpora fail FAST with the offending row named
    (ADVICE r12): a NULL or short vector raises ValueError carrying
    the batch position and expected width, instead of numpy's opaque
    inhomogeneous-shape error (and instead of the old F.get path's
    silent null→NaN degradation — corruption should stop the scan)."""
    import numpy as np
    import pandas as pd
    import pytest

    from taxi_rides_ny_duckdb_spark.operators.similarity import _vec_matrix

    good = np.asarray([0.1, 0.2], dtype=np.float64)
    with pytest.raises(ValueError, match=r"NULL vector at batch row 1"):
        _vec_matrix(pd.Series([good, None, good]), 2)
    with pytest.raises(ValueError, match=r"length 1 at batch row 2"):
        _vec_matrix(
            pd.Series([good, good, np.asarray([0.5], dtype=np.float64)]), 2
        )


def test_make_scale_data_argv_guards():
    """Trailing --only/--link-rest without a value exits with usage
    instead of IndexError, and --only + --link-rest prints the
    key-space-alignment warning (ADVICE r12)."""
    import subprocess
    import sys

    tool = "/root/repo/tools/make_scale_data.py"
    r = subprocess.run(
        [sys.executable, tool, "--only"], capture_output=True, text=True
    )
    assert r.returncode != 0 and "usage:" in (r.stderr + r.stdout)
    r = subprocess.run(
        [sys.executable, tool, "--help"], capture_output=True, text=True
    )
    assert "key spaces" in (r.stderr + r.stdout)


def test_pack_sign_bits_nan_parity_with_expression():
    """NaN coordinates pack identically in the numpy packer and the
    DuckDB CASE-per-bit expression the oracles replay it with
    (``_bits_words_sql``, ADVICE r11): both engines rank NaN above every
    numeric, so ``> 0`` sets the bit on NaN; ``_pack_sign_bits_np``
    masks ``| isnan`` to match. A vector mixing NaN / 0.0 / ±x must
    produce the same words from both."""
    import math

    import duckdb
    import numpy as np

    from taxi_rides_ny_duckdb_spark.contract_extensions import _bits_words_sql
    from taxi_rides_ny_duckdb_spark.operators.similarity import _pack_sign_bits_np

    dim = 64
    nan = float("nan")
    v = [-1.0] * dim
    for i, x in [(0, nan), (3, 0.0), (7, 2.5), (31, nan), (40, nan), (63, 1.0)]:
        v[i] = x
    np_words = _pack_sign_bits_np(np.asarray([v], dtype=np.float64), dim)[
        0
    ].tolist()
    lit = "[" + ", ".join(f"'{x!r}'::DOUBLE" for x in v) + "]"
    sql_words = duckdb.sql(
        f"SELECT {_bits_words_sql(dim)} FROM (SELECT {lit} AS ev)"
    ).fetchone()[0]
    assert sql_words == np_words
    # and the bit pattern is the expected one: set ⇔ NaN or > 0
    expect = [0, 0]
    for i, x in enumerate(v):
        if math.isnan(x) or x > 0:
            expect[i // 32] |= 1 << (i % 32)
    assert np_words == expect


def test_hamming_topk_self_rank1_and_tie_break(spark):
    """A query drawn from the corpus ranks itself first at distance 0;
    equal-distance candidates break ties on vec_id ascending."""
    from taxi_rides_ny_duckdb_spark.operators.similarity import hamming_topk_fused

    dim = 64
    base = [1.0] * dim
    flip1 = [1.0] * 10 + [-1.0] + [1.0] * (dim - 11)
    rows = [(0, base), (5, flip1), (9, flip1)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id = 0").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    got = hamming_topk_fused(df, q, dim, k=3).collect()
    got = sorted(got, key=lambda r: r["rank"])
    assert [(r["vec_id"], r["hamming_d"]) for r in got] == [(0, 0), (5, 1), (9, 1)]


def test_hamming_topk_fused_bit_equals_two_pass(spark, sf_dir):
    """The fused pack+scan (one Arrow pass over the floats) returns
    EXACTLY a two-pass Spark replay — pass 1 packs the sign bits with
    CASE-per-bit integer expressions, pass 2 cross-joins the codes and
    ranks by sum(bit_count(xor)) with a (distance, id) row_number —
    same ids, ranks, and distances (packing and xor/popcount are exact
    integer math in both forms)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from taxi_rides_ny_duckdb_spark.operators.similarity import hamming_topk_fused
    from taxi_rides_ny_duckdb_spark.sources.registry import load

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 4").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    fused = sorted(
        hamming_topk_fused(emb, queries, dim=64, k=5).collect(),
        key=lambda r: (r["query_id"], r["rank"]),
    )

    def sign_words(vec):
        words = []
        for w0 in (0, 32):
            acc = F.lit(0).cast("long")
            for j in range(32):
                acc = acc + F.when(
                    F.get(vec, w0 + j) > 0, F.lit(1 << j).cast("long")
                ).otherwise(F.lit(0).cast("long"))
            words.append(acc)
        return words

    cw = sign_words(F.col("embedding").cast("array<double>"))
    codes = emb.select("vec_id", cw[0].alias("c0"), cw[1].alias("c1"))
    qcodes = codes.filter("vec_id < 4").selectExpr(
        "vec_id AS query_id", "c0 AS q0", "c1 AS q1"
    )
    w = Window.partitionBy("query_id").orderBy("hamming_d", "vec_id")
    two_pass = sorted(
        qcodes.crossJoin(codes)
        .withColumn(
            "hamming_d",
            F.bit_count(F.col("c0").bitwiseXOR(F.col("q0")))
            + F.bit_count(F.col("c1").bitwiseXOR(F.col("q1"))),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter("rank <= 5")
        .select("query_id", "rank", "vec_id", F.col("hamming_d").cast("long"))
        .collect(),
        key=lambda r: (r["query_id"], r["rank"]),
    )
    assert len(fused) == 20
    assert [tuple(r) for r in fused] == [tuple(r) for r in two_pass]


def test_hamming_rerank_recall_dominates_raw_hamming(spark, sf_dir):
    """Exact re-scoring a Hamming candidate superset can only help:
    recall@5 of the cascade is >= recall@5 of the raw Hamming ranking
    for every query (any true-top-5 member admitted to the candidate
    set ranks above all non-members under the exact re-score)."""
    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        ann_recall_at_k,
        brute_force_topk,
        hamming_rerank_topk,
        hamming_topk_fused,
    )
    from taxi_rides_ny_duckdb_spark.sources.registry import load

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 8").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    exact = brute_force_topk(emb, queries, k=5)
    raw = hamming_topk_fused(emb, queries, dim=64, k=5)
    cascade = hamming_rerank_topk(emb, queries, dim=64, k=5, n_candidates=25)
    r_raw = {
        r["query_id"]: r["recall_at_k"]
        for r in ann_recall_at_k(raw, exact, k=5).collect()
    }
    r_cas = {
        r["query_id"]: r["recall_at_k"]
        for r in ann_recall_at_k(cascade, exact, k=5).collect()
    }
    assert set(r_raw) == set(r_cas) and len(r_cas) == 8
    assert all(r_cas[q] >= r_raw[q] for q in r_raw)


def test_calibration_bins_hand_computed(spark):
    """Hand-built 2-bin case: bin 2 (scores .25,.25, labels 0,1) and
    bin 9 (scores .95 x4, labels 1,1,1,0). Gaps |.25-.5|=.25 and
    |.95-.75|=.2; ECE = (2/6)*.25 + (4/6)*.2 — and a perfectly
    calibrated frame scores ECE 0."""
    from taxi_rides_ny_duckdb_spark.operators.classify import calibration_bins

    rows = [(1, 0.25, False), (2, 0.25, True),
            (3, 0.95, True), (4, 0.95, True), (5, 0.95, True), (6, 0.95, False)]
    df = spark.createDataFrame(rows, "id long, p double, y boolean")
    got = {r["bin_id"]: r for r in calibration_bins(df, "p", "y").collect()}
    assert set(got) == {2, 9}
    assert got[2]["n"] == 2 and got[2]["n_pos"] == 1
    assert got[2]["gap_r"] == 0.25
    assert got[9]["gap_r"] == round(abs(0.95 - 0.75), 9)
    ece = round(round(2 / 6 * 0.25, 12) + round(4 / 6 * 0.2, 12), 9)
    assert got[2]["ece_r"] == got[9]["ece_r"] == ece

    # perfectly calibrated: every bin's mean score equals its positive
    # rate -> all gaps 0, ECE 0 (scores land mid-bin to avoid edges)
    cal = [(i, 0.25, i % 4 == 0) for i in range(8)] + [
        (100 + i, 0.75, i % 4 != 0) for i in range(8)
    ]
    cdf = spark.createDataFrame(cal, "id long, p double, y boolean")
    out = calibration_bins(cdf, "p", "y").collect()
    assert all(r["gap_r"] == 0.0 and r["ece_r"] == 0.0 for r in out)


def test_calibration_bins_edge_scores(spark):
    """Scores exactly 0.0 and 1.0 land in bins 0 and B-1 (the least()
    clamp), never out of range."""
    from taxi_rides_ny_duckdb_spark.operators.classify import calibration_bins

    df = spark.createDataFrame(
        [(1, 0.0, False), (2, 1.0, True)], "id long, p double, y boolean"
    )
    got = sorted(
        (r["bin_id"], r["n"]) for r in calibration_bins(df, "p", "y").collect()
    )
    assert got == [(0, 1), (9, 1)]


def test_embedding_pool_hand_computed(spark):
    """Two 3-dim chunks in one group: mean and max per coordinate are
    hand-checkable; a singleton group pools to itself."""
    from taxi_rides_ny_duckdb_spark.operators.similarity import embedding_pool

    rows = [
        (1, [1.0, -2.0, 0.5]),
        (1, [3.0, 4.0, 0.5]),
        (2, [7.0, 8.0, 9.0]),
    ]
    df = spark.createDataFrame(rows, "g long, embedding array<double>")
    got = {
        (r["g"], r["pos"]): r
        for r in embedding_pool(df, "g", dim=3).collect()
    }
    assert len(got) == 6
    assert got[(1, 0)]["mean_r"] == 2.0 and got[(1, 0)]["max_r"] == 3.0
    assert got[(1, 1)]["mean_r"] == 1.0 and got[(1, 1)]["max_r"] == 4.0
    assert got[(1, 2)]["mean_r"] == 0.5 and got[(1, 2)]["max_r"] == 0.5
    assert all(got[(2, p)]["n_chunks"] == 1 for p in range(3))
    assert [got[(2, p)]["mean_r"] for p in range(3)] == [7.0, 8.0, 9.0]


def test_embedding_pool_fails_fast_on_malformed_vectors(spark):
    """The r13 pure-JVM aggregate keeps the Arrow form's fail-fast
    contract (ADVICE r12): a NULL or short vector stops the scan with
    a named error instead of silently skipping rows in the sums (a
    null element_at would otherwise drop the row from every sum while
    n_chunks still counted it)."""
    import pytest as _pytest
    from pyspark.errors import SparkRuntimeException

    from taxi_rides_ny_duckdb_spark.operators.similarity import embedding_pool

    short = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (1, [1.0])], "g long, embedding array<double>"
    )
    with _pytest.raises(SparkRuntimeException, match="NULL or short vector"):
        embedding_pool(short, "g", dim=3).collect()
    withnull = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (1, None)], "g long, embedding array<double>"
    )
    with _pytest.raises(SparkRuntimeException, match="NULL or short vector"):
        embedding_pool(withnull, "g", dim=3).collect()


def _ref_mmr(cand, vecs, k, lam):
    """Pure-Python MMR greedy over ``cand`` = {query: [(id, rel)]} and
    ``vecs`` = {id: vector}: sequential-fold cosines (0.0 on a zero
    norm) and scores rounded through the scalar ``round_half_up`` at
    ``PARITY_DP``, argmax ties to the lower id, at most k rounds.
    Returns sorted (query, rank, id, score) rows."""
    import math

    from taxi_rides_ny_duckdb_spark.functions.parity import PARITY_DP, round_half_up

    def cos(a, b):
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot, na, nb = dot + x * y, na + x * x, nb + y * y
        na, nb = math.sqrt(na), math.sqrt(nb)
        return dot / (na * nb) if na > 0 and nb > 0 else 0.0

    out = []
    for q, rows in cand.items():
        rel = dict(rows)
        selected: list = []
        for rank in range(1, min(k, len(rel)) + 1):
            best = None
            for i in sorted(rel):
                if i in selected:
                    continue
                if rank == 1:
                    sc = round_half_up(rel[i], PARITY_DP)
                else:
                    ms = max(
                        round_half_up(cos(vecs[i], vecs[j]), PARITY_DP)
                        for j in selected
                    )
                    sc = round_half_up(lam * rel[i] - (1.0 - lam) * ms, PARITY_DP)
                if best is None or sc > best[1]:
                    best = (i, sc)
            selected.append(best[0])
            out.append((q, rank, best[0], best[1]))
    return sorted(out)


def test_mmr_topk_matches_python_greedy(spark):
    """mmr_topk (one fused greedy per query) selects the same
    (rank, id, score) rows as ``_ref_mmr`` — on a case with a score tie
    (ties to the lower id), near-tie MMR scores, and more rounds than
    candidates (k > C stops early)."""
    from taxi_rides_ny_duckdb_spark.operators.similarity import mmr_topk

    # query 200 has ONE candidate (k > C early stop); query 100 has a
    # rank-1 relevance tie between ids 1 and 2.
    vecs = {1: [1.0, 0.0], 2: [0.0, 1.0], 3: [0.6, 0.8], 4: [0.5, 0.5],
            5: [0.8, 0.6], 6: [0.3, 0.7]}
    cand = {100: [(1, 0.75), (2, 0.75), (3, 0.5), (5, 0.5), (6, 0.4)],
            200: [(4, 0.9)]}
    corpus = spark.createDataFrame(
        list(vecs.items()), "vec_id long, embedding array<double>"
    )
    cand_df = spark.createDataFrame(
        [(q, i, r) for q, rows in cand.items() for i, r in rows],
        "query_id long, vec_id long, rel_r double",
    )
    got = sorted(
        (r["query_id"], r["sel_rank"], r["vec_id"], r["score_r"])
        for r in mmr_topk(cand_df, corpus, k=4, lam=0.7).collect()
    )
    assert got == _ref_mmr(cand, vecs, k=4, lam=0.7)
    by_q = {}
    for q, rk, vid, _s in got:
        by_q.setdefault(q, []).append((rk, vid))
    assert by_q[200] == [(1, 4)], "k > C must stop after the only candidate"
    assert by_q[100][0] == (1, 1), "rank-1 tie must break to the lower id"
    assert len(by_q[100]) == 4


def test_mmr_diversity_vs_pure_relevance(spark):
    """With a near-duplicate pair at the top of the candidate list, a
    diversity-heavy lambda picks the orthogonal document second, while
    lambda=1 (pure relevance) keeps the near-dup — the defining MMR
    behavior. Also: sel_ranks are 1..k and scores non-increasing in
    round order is NOT required (MMR scores mix scales), but the rank-1
    pick is always the relevance argmax."""
    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        brute_force_topk,
        mmr_topk,
    )

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.999, 0.01]),
            (3, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(100, [0.9, 0.1])], "query_id long, query_vec array<double>"
    )
    cand = brute_force_topk(corpus, queries, k=3).select(
        "query_id", "vec_id", F.round("cosine_sim", 9).alias("rel_r")
    )
    diverse = {
        r["sel_rank"]: r["vec_id"]
        for r in mmr_topk(cand, corpus, k=2, lam=0.1).collect()
    }
    relevance = {
        r["sel_rank"]: r["vec_id"]
        for r in mmr_topk(cand, corpus, k=2, lam=1.0).collect()
    }
    assert diverse[1] == relevance[1] == 2  # relevance argmax first
    assert relevance[2] == 1  # pure relevance keeps the near-dup
    assert diverse[2] == 3  # diversity-heavy lambda jumps to orthogonal


def test_cms_overcounts_only_and_min_rows_tightens(spark):
    """With width=2 collisions are forced: every estimate must still be
    >= the exact count (counters only over-count), and a generous grid
    (width=64, depth=4) recovers exact counts on a small stream."""
    from taxi_rides_ny_duckdb_spark.operators.sketch import cms_certified

    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 2 + [("d",)] * 1
    toks = spark.createDataFrame(rows, "token string")
    tight = {r["token"]: r for r in cms_certified(toks, width=2, depth=2, top_n=4).collect()}
    assert set(tight) == {"a", "b", "c", "d"}
    assert all(r["est_ge_exact"] for r in tight.values())
    assert all(r["est_n"] >= r["exact_n"] for r in tight.values())
    # width 2, 4 distinct tokens: at least one row of the grid has a
    # collision, so SOME token over-counts unless hashes split 2/2 on
    # both rows AND colliding pairs never share a bucket... the exact
    # invariant we can assert without pinning hashes: totals preserved.
    wide = {r["token"]: r for r in cms_certified(toks, width=64, depth=4, top_n=4).collect()}
    assert all(r["over_n"] == 0 for r in wide.values())


def test_cms_build_weighted_matches_per_occurrence(spark):
    """The pre-aggregated grid build (count_col — r13: depth md5s per
    DISTINCT token instead of per occurrence) must produce the
    IDENTICAL counter grid as the per-occurrence build, collisions
    included."""
    from pyspark.sql import functions as F

    from taxi_rides_ny_duckdb_spark.operators.sketch import cms_build

    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 2 + [("d",)] * 7
    toks = spark.createDataFrame(rows, "token string")
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    for depth, width in ((2, 2), (4, 64)):
        per_occ = sorted(
            tuple(r) for r in cms_build(toks, depth=depth, width=width).collect()
        )
        weighted = sorted(
            tuple(r)
            for r in cms_build(
                counts, depth=depth, width=width, count_col="n"
            ).collect()
        )
        assert per_occ == weighted, (depth, width)


def test_hamming_topk_matches_python_reference(spark, sf_dir):
    """The fused pack+scan (per-batch local top-k, then a window) must
    equal a brute-force pure-Python replay — sign words from
    ``_pack_sign_bits_np``, then xor + popcount over every (query,
    vector) pair in (distance, id) order — on the real fixture
    embeddings, in ranks AND distances; with ``carry_vec`` each
    winner also carries its own float vector bit-for-bit."""
    import numpy as np

    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        _pack_sign_bits_np,
        hamming_topk_fused,
    )
    from taxi_rides_ny_duckdb_spark.sources.registry import load

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 8").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    ids = sorted(vecs)
    W = _pack_sign_bits_np(np.asarray([vecs[i] for i in ids], dtype=np.float64), 64)
    codes = dict(zip(ids, W.tolist()))
    want = []
    for qid in range(8):
        d = sorted(
            (sum(bin(a ^ b).count("1") for a, b in zip(codes[qid], w)), vid)
            for vid, w in codes.items()
        )
        want += [(qid, i + 1, vid, dist) for i, (dist, vid) in enumerate(d[:5])]
    out = hamming_topk_fused(emb, queries, dim=64, k=5, carry_vec=True).collect()
    key = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["hamming_d"])
    assert sorted(map(key, out)) == sorted(want) and len(out) == 40
    assert all(list(r["__cv"]) == vecs[r["vec_id"]] for r in out)


def test_brier_decomposition_hand_computed(spark):
    """Perfectly calibrated scores: reliability 0 and the binned
    identity BS = REL - RES + UNC holds exactly (scores constant
    within each bin). Hand-checkable 2-bin case."""
    from taxi_rides_ny_duckdb_spark.operators.classify import brier_decomposition

    # bin 2: p=0.25, 1 of 4 positive (calibrated); bin 7: p=0.75, 3 of
    # 4 positive (calibrated). ybar = 0.5.
    rows = [(i, 0.25, i == 0) for i in range(4)] + [
        (10 + i, 0.75, i != 0) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "id long, p double, y boolean")
    got = brier_decomposition(df, "p", "y").collect()
    assert len(got) == 1
    r = got[0]
    assert r["n"] == 8
    assert r["reliability_r"] == 0.0
    # resolution = mean (ybar_b - 0.5)^2 = 0.0625; uncertainty = 0.25
    assert r["resolution_r"] == 0.0625
    assert r["uncertainty_r"] == 0.25
    # BS: each row (p-y)^2 = 0.0625 -> mean 0.1875 = REL - RES + UNC
    assert r["brier_r"] == 0.1875
    assert abs(r["brier_r"] - (r["reliability_r"] - r["resolution_r"] + r["uncertainty_r"])) < 1e-9


def test_semdedup_collapse_matches_scalar_replica(spark):
    """The above-gate SemDeDup tail (members + centroid frame cogrouped
    per cluster, scoring + pairing + union-find + keep in ONE Arrow
    task each) must reproduce, value-for-value, an INDEPENDENT scalar
    replica: sequential-fold cosine for both the own-centroid score
    and the pairs, repr-HALF_UP rounding, min-member-id components,
    keep = first row under (cent_sim_r asc, id asc). Fixture: a
    transitive chain (a~b, b~c, a!~c) with a cent_sim_r TIE, a
    zero-norm vector, singletons, a centroid with no members, plus a
    seeded random cluster; run at two thresholds."""
    import math
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        _semdedup_collapse,
    )

    def rnd(x):
        return float(Decimal(repr(x)).quantize(Decimal("1e-9"), ROUND_HALF_UP))

    def fold(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def cos(a, b):
        na, nb = math.sqrt(fold(a, a)), math.sqrt(fold(b, b))
        return fold(a, b) / (na * nb) if na > 0 and nb > 0 else 0.0

    def replica(rows, cents, threshold):
        by_c = {}
        for r in rows:
            by_c.setdefault(r[1], []).append(r)
        out = {}
        for cid, mem in by_c.items():
            mem = sorted(mem, key=lambda r: r[0])
            parent = {r[0]: r[0] for r in mem}
            cs = {r[0]: rnd(cos(r[2], cents[cid])) for r in mem}

            def find(x):
                while parent[x] != x:
                    x = parent[x]
                return x

            for i in range(len(mem)):
                for j in range(i + 1, len(mem)):
                    ida, _, va = mem[i]
                    idb, _, vb = mem[j]
                    if rnd(cos(va, vb)) >= threshold:
                        ra, rb = find(ida), find(idb)
                        if ra != rb:
                            parent[max(ra, rb)] = min(ra, rb)
            comp = {r[0]: find(r[0]) for r in mem}
            seen = set()
            for r in sorted(mem, key=lambda r: (cs[r[0]], r[0])):
                c = comp[r[0]]
                out[r[0]] = (cid, c, cs[r[0]], c not in seen)
                seen.add(c)
        return out

    theta = math.radians(20.0)  # cos 20 ~ 0.94, cos 40 ~ 0.77
    rng = random.Random(13)
    cents = {
        # opposite the 1/2 bisector: 1 and 2 tie, 3 is more similar
        0: [-math.cos(theta / 2), -math.sin(theta / 2), 0.0],
        1: [-1.0, 0.0, 0.0],
        2: [rng.uniform(-1, 1) for _ in range(3)],
        3: [0.0, 0.0, 1.0],  # no members
    }
    rows = [
        # cluster 0: transitive chain at threshold 0.9 — (1,2) and
        # (2,3) pair, (1,3) does not; 4 is a zero-norm singleton
        (1, 0, [1.0, 0.0, 0.0]),
        (2, 0, [math.cos(theta), math.sin(theta), 0.0]),
        (3, 0, [math.cos(2 * theta), math.sin(2 * theta), 0.0]),
        (4, 0, [0.0, 0.0, 0.0]),
        # cluster 1: one pair (11 less centroid-similar) + a singleton
        (10, 1, [0.0, 1.0, 0.0]),
        (11, 1, [0.1, 1.0, 0.0]),
        (12, 1, [1.0, 0.0, 0.0]),
    ]
    for i in range(60):  # cluster 2: seeded random mix of edges
        rows.append((100 + i, 2, [rng.uniform(-1, 1) for _ in range(3)]))
    members = spark.createDataFrame(
        rows, "vec_id long, centroid_id int, __v array<double>"
    )
    cents_df = spark.createDataFrame(
        sorted(cents.items()), "centroid_id int, cv array<double>"
    )
    for threshold in (0.9, 0.35):
        got = {
            r["vec_id"]: (
                r["centroid_id"], r["component"], r["cent_sim_r"], r["keep"]
            )
            for r in _semdedup_collapse(members, cents_df, threshold, "vec_id").collect()
        }
        assert got == replica(rows, cents, threshold), threshold
    # pin the fixture's named behaviors at 0.9: the chain closes
    # 1-2-3 into one min-id component, the tie keeps the lower id,
    # zero-norm 4 is a singleton
    got = {
        r["vec_id"]: r
        for r in _semdedup_collapse(members, cents_df, 0.9, "vec_id").collect()
    }
    assert got[1]["cent_sim_r"] == got[2]["cent_sim_r"] < got[3]["cent_sim_r"]
    assert got[1]["component"] == got[2]["component"] == got[3]["component"] == 1
    assert (got[1]["keep"], got[2]["keep"], got[3]["keep"]) == (
        True, False, False,
    )
    assert got[4]["component"] == 4 and got[4]["keep"]
    assert got[4]["cent_sim_r"] == 0.0
    assert got[10]["component"] == got[11]["component"] == 10
    assert (got[10]["keep"], got[11]["keep"]) == (False, True)


def test_round12_vectorized_matches_scalar(spark):
    """The vectorized twin ``round_half_up_np`` at 12 dp equals the
    scalar Decimal(repr(x)) form on half-boundary witnesses, the
    ambiguity band, signs, the >= 2 slow route and a random grid;
    plus a Spark F.round spot-check (the engine target of the fused
    LR descent's addend rounding)."""
    import numpy as np
    from pyspark.sql import functions as F

    from taxi_rides_ny_duckdb_spark.functions.parity import (
        round_half_up,
        round_half_up_np,
    )

    witnesses = [
        0.1234567890125,      # repr half-line at 12dp
        0.4999999999995,
        0.0000000000005,
        0.9999999999985,
        0.1234567890124999,
        0.12345678901250001,
        1.0, 0.0, -0.0, 2.5e-13, -2.5e-13,
        3.1234567890125,      # >= 2: the scalar slow route
        -0.1234567890125, -0.9999999999985,
    ]
    rng = np.random.default_rng(12)
    grid = np.concatenate([
        np.asarray(witnesses, dtype=np.float64),
        rng.uniform(-2.0, 2.0, 4000),
        rng.uniform(-1e-11, 1e-11, 1000),
        (np.arange(-500, 500) + 0.5) / 1e12,
    ])
    got = round_half_up_np(grid, 12)
    want = np.asarray([round_half_up(float(x), 12) for x in grid])
    mism = np.nonzero(got != want)[0]
    assert len(mism) == 0, [
        (float(grid[i]), float(got[i]), float(want[i])) for i in mism[:5]
    ]
    df = spark.createDataFrame([(float(w),) for w in witnesses], "v double")
    eng = [r["r"] for r in df.select(F.round(F.col("v"), 12).alias("r")).collect()]
    vec = round_half_up_np(np.asarray(witnesses, dtype=np.float64), 12)
    assert [float(x) for x in vec] == eng


def _ref_lr(rows, dim, iters, lr):
    """Independent pure-Python surrogate-LR descent over
    ``(doc, idx, x, y)`` feature rows, bias rows (idx = dim, x = 1)
    included: per-doc z and per-idx gradients are Python-int sums of
    12dp-rounded addends at scale 10^12 (the exact DECIMAL(38,12)
    sums), σ̃(z) = 0.5 + 0.5·z/(1+|z|), then w - lr·(g/n) with n the
    doc count. Shares only the scalar ``round_half_up`` with the
    package."""
    from taxi_rides_ny_duckdb_spark.functions.parity import round_half_up

    def r12(x):
        return round_half_up(x, 12)

    scale = 10**12
    n = sum(1 for _, idx, _, _ in rows if idx == dim)
    w = [0.0] * (dim + 1)
    for _ in range(iters):
        zk = {}
        for doc, idx, x, _ in rows:
            zk[doc] = zk.get(doc, 0) + round(r12(x * w[idx]) * scale)
        gk = [0] * (dim + 1)
        for doc, idx, x, y in rows:
            z = zk[doc] / scale
            p = r12(0.5 + (0.5 * z) / (1.0 + abs(z)))
            gk[idx] += round(r12((p - y) * x) * scale)
        w = [w[i] - lr * ((gk[i] / scale) / n) for i in range(dim + 1)]
    return w


def test_lr_train_fused_gate_matches_distributed(spark, monkeypatch):
    """Both sides of the ``_FUSED_LR_MAX_ROWS`` gate - the one-task
    descent and the per-iteration mapInPandas partials - must return
    ``_ref_lr``'s model bit-for-bit, including zero-token docs
    (bias-only rows) and an idx with no rows. Above the gate the cache
    spans several partitions and Arrow batches of 3 rows, so a doc's
    rows straddle batches. iters=4 moves the weights off w = 0."""
    from taxi_rides_ny_duckdb_spark.operators import classify as C

    dim = 8
    rows = []
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    for i in range(40):
        text = " ".join(words[(i + j) % len(words)] for j in range(1 + i % 7))
        if i % 11 == 0:
            text = "   "  # zero-token doc: trains on the bias only
        rows.append((i, text, 1 if i % 3 == 0 else 0))
    docs = spark.createDataFrame(rows, "doc_id long, text string, y int")
    y = {i: float(lab) for i, _, lab in rows}
    feats = [
        (r["doc_id"], r["idx"], r["x"], y[r["doc_id"]])
        for r in C.lr_hashed_features(docs, "text", "doc_id", dim).collect()
    ] + [(i, dim, 1.0, y[i]) for i in y]
    assert len({idx for _, idx, _, _ in feats}) < dim + 1  # an empty idx
    ref = _ref_lr(feats, dim, 4, 0.5)

    w, b = C.lr_train_surrogate(docs, "text", "doc_id", "y", dim, 4, 0.5)
    assert [*w, b] == ref

    n_partials = []
    step = C._lr_step

    def spy(w, partials, n, lr):
        n_partials.append(len(partials))
        return step(w, partials, n, lr)

    monkeypatch.setattr(C, "_FUSED_LR_MAX_ROWS", 0)
    monkeypatch.setattr(C, "_lr_step", spy)
    conf = {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "3",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        w, b = C.lr_train_surrogate(docs, "text", "doc_id", "y", dim, 4, 0.5)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert [*w, b] == ref
    assert len(n_partials) == 4 and min(n_partials) >= 2


def test_bpe_learn_merges_fused_gate_matches_distributed(spark, monkeypatch):
    """Both sides of the ``_FUSED_BPE_MAX_VOCAB`` gate - all rounds in
    one task, and one mapInPandas replay + pair aggregation per round -
    must return ``_ref_bpe``'s merge table: same pairs, same order,
    same counts. Cases: ASCII count ties broken lexicographically; a
    three-way tie between non-ASCII symbols (é < ｚ < 𝔸 in code-point
    order - the UTF-8 binary order - while UTF-16 order would put 𝔸
    before ｚ); and the early stop where every word collapses to one
    symbol."""
    from collections import Counter

    from taxi_rides_ny_duckdb_spark.operators import tokenizer as T

    corpora = [
        (
            [
                "low low low lower lowest",
                "new newer newest low",
                "ab ab ba ba",  # (a,b) vs (b,a) count ties
                "",
            ],
            6,
        ),
        (["ｚéｚéｚé 𝔸é𝔸é𝔸é é€é€é€"], 6),
        (["x y x"], 8),  # one-char words exhaust after one merge each
    ]
    for texts, n_merges in corpora:
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        wc = Counter(w for t in texts for w in t.lower().split())
        ref = _ref_bpe(dict(wc), n_merges)
        assert len(ref) <= n_merges
        for gate in (500_000, 0):
            monkeypatch.setattr(T, "_FUSED_BPE_MAX_VOCAB", gate)
            got = T.bpe_learn_merges(docs, "text", n_merges=n_merges)
            assert [(a, b, n) for _, a, b, n in got] == ref, (texts, gate)
            assert [r for r, *_ in got] == list(range(1, len(ref) + 1))
    assert ref == [("x", "</w>", 2), ("y", "</w>", 1)]  # stopped early


def test_bpe_lr_degenerate_inputs_on_both_gate_sides(spark, monkeypatch):
    """Defined results on both sides of each gate: an empty corpus
    learns no merges and segments to no rows; empty-text docs segment
    to ('', 0) each; an empty LR training set fails fast."""
    from taxi_rides_ny_duckdb_spark.operators import classify as C
    from taxi_rides_ny_duckdb_spark.operators import tokenizer as T

    empty = spark.createDataFrame([], "doc_id long, text string, y int")
    blank = spark.createDataFrame(
        [(1, "", 0), (2, "   ", 1)], "doc_id long, text string, y int"
    )
    for bpe_gate, lr_gate in ((500_000, 2_000_000), (0, 0)):
        monkeypatch.setattr(T, "_FUSED_BPE_MAX_VOCAB", bpe_gate)
        monkeypatch.setattr(C, "_FUSED_LR_MAX_ROWS", lr_gate)
        assert T.bpe_learn_merges(empty, "text") == []
        assert T.bpe_learn_merges(blank, "text") == []
        seg = T.bpe_segment(empty, "text", "doc_id", [("a", "b")])
        assert seg.collect() == []
        seg = T.bpe_segment(blank, "text", "doc_id", [("a", "b")])
        assert sorted(tuple(r) for r in seg.collect()) == [
            (1, "", 0),
            (2, "", 0),
        ]
        with pytest.raises(ValueError, match="empty training set"):
            C.lr_train_surrogate(empty, "text", "doc_id", "y", dim=4)
