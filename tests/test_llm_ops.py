"""Unit tests for the LLM-pipeline operators (llm/dedup.py, llm/textops.py).

Regression focus: PySpark treats any 2-arg lambda inside a higher-order
function as (element, index) — including defaults bound via ``lambda x, i=i:``
— which once collapsed all 64 minhash seeds to one function. These tests
pin the non-degeneracy properties that bug violated.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from simple_pos_kafka_pyspark_airflow_spark.llm import dedup, textops


def minhash_signature(shingle_arr, num_hashes: int = 64):
    """Reference form of the MinHash signature: k independent min-hashes
    as ONE nested higher-order expression (outer transform over seed ids,
    inner transform hashing each shingle with that seed). The pipelines
    compute the identical signature through exploded rows and codegen
    min aggregates (``dedup.minhash_doc_table``)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(F.transform(shingle_arr, lambda s: F.xxhash64(s, i))),
    )


def _marker_test(markers: tuple[str, ...]):
    """Binds the marker tuple so the lambda stays single-param — a 2-arg
    lambda (even via default args) is treated by PySpark's higher-order
    functions as (element, index)."""
    return lambda t: t.isin(*markers)


def _lang_argmax(scores: dict):
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for c in reversed(sorted(scores)):  # reversed: smallest code outermost
        expr = F.when(scores[c] == best, F.lit(c)).otherwise(expr)
    return F.when(best <= 0, F.lit("und")).otherwise(expr)


def predicted_lang_from_tokens(toks):
    """Reference form of ``textops.predicted_lang_from_text`` over a
    lowercased token array: per-language ``F.filter`` marker counts and a
    when-chain argmax (ties → smallest code, zero hits → 'und')."""
    return _lang_argmax(
        {
            c: F.size(F.filter(toks, _marker_test(textops.LANG_MARKERS[c])))
            for c in sorted(textops.LANG_MARKERS)
        }
    )


def test_minhash_signature_not_degenerate(spark):
    """The 64 seeded min-hashes of a multi-shingle doc must not all be
    equal (they were, when seed i was silently replaced by the array
    index)."""
    df = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog and runs away fast",)], ["text"]
    )
    sig = df.select(
        minhash_signature(dedup.shingles(F.col("text"), 3), 64).alias("sig")
    ).first()["sig"]
    assert len(sig) == 64
    assert len(set(sig)) > 32, "minhash seeds are not independent"


def test_minhash_similar_docs_share_more_minhashes(spark):
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"  # 1 token diff
    c = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], ["id", "text"])
    sigs = {
        r["id"]: r["sig"]
        for r in df.select(
            "id", minhash_signature(dedup.shingles(F.col("text"), 3), 64).alias("sig")
        ).collect()
    }
    agree_ab = sum(x == y for x, y in zip(sigs[1], sigs[2]))
    agree_ac = sum(x == y for x, y in zip(sigs[1], sigs[3]))
    assert agree_ab > agree_ac, "minhash agreement must track Jaccard similarity"
    assert agree_ac < 8  # unrelated docs share ~0 minhashes


def test_simhash_runs_and_discriminates(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different words entirely unrelated content here"),
        ],
        ["id", "text"],
    )
    out = {
        r["id"]: r["sh"] for r in df.select("id", dedup.simhash64(F.col("text")).alias("sh")).collect()
    }
    def hamming(x, y):
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")

    assert hamming(out[1], out[2]) < hamming(out[1], out[3])


def test_predicted_lang_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of a house in a street is big"),
            (2, "der hund und die katze ist nicht da und das haus"),
            (3, "le chat et les chiens est dans des rues et le parc"),
            (4, "xyzzy plugh qwerty"),
        ],
        ["id", "text"],
    )
    out = {
        r["id"]: r["lang"]
        for r in df.select("id", textops.predicted_lang(F.col("text")).alias("lang")).collect()
    }
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "fr"
    assert out[4] == "und"


def test_lang_scores_map_counts(spark):
    df = spark.createDataFrame([("the cat and the dog",)], ["text"])
    m = df.select(textops.lang_scores(F.col("text")).alias("m")).first()["m"]
    assert m["en"] == 3  # the, and, the
    assert m["de"] == 0


def test_ivf_topk_recall_vs_brute_force(spark):
    """nprobe=4/16 IVF must recover most of the exact top-10; nprobe=16 is
    definitionally identical to brute force."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in e.where(F.col("vec_id") == 0).first()["embedding"]]
    exact = [r["vec_id"] for r in simsearch.cosine_topk(e, q, k=10).collect()]
    ivf = [r["vec_id"] for r in simsearch.cosine_topk_ivf(e, q, k=10, n_cells=16, nprobe=4).collect()]
    assert len(set(exact) & set(ivf)) >= 5, (exact, ivf)
    full = [r["vec_id"] for r in simsearch.cosine_topk_ivf(e, q, k=10, n_cells=16, nprobe=16).collect()]
    assert full == exact


def test_ivf_multi_assignment_replicates_and_contains_primary(spark):
    """n_assign=2 emits exactly 2 rows per vector, the primary (argmax)
    cell is always among them, and a full-coverage probe reproduces brute
    force exactly (dedup-on-id keeps query semantics unchanged)."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c = simsearch.ivf_centroids(e, n_cells=8)
    single = simsearch.ivf_assign(e, c).select("vec_id", F.col("cell").alias("primary"))
    multi = simsearch.ivf_assign(e, c, n_assign=2)
    assert multi.count() == 2 * e.count()
    per_vec = multi.groupBy("vec_id").agg(F.collect_set("cell").alias("cells"))
    missing_primary = per_vec.join(single, "vec_id").where(
        ~F.array_contains("cells", F.col("primary"))
    )
    assert missing_primary.count() == 0

    q = [float(x) for x in e.where(F.col("vec_id") == 0).first()["embedding"]]
    exact = [r["vec_id"] for r in simsearch.cosine_topk(e, q, k=10).collect()]
    full = [
        r["vec_id"]
        for r in simsearch.cosine_topk_ivf(e, q, k=10, n_cells=8, nprobe=8, n_assign=2).collect()
    ]
    assert full == exact


def test_ivf_assignment_deterministic(spark):
    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c = simsearch.ivf_centroids(e, n_cells=8)
    a1 = {r["vec_id"]: r["cell"] for r in simsearch.ivf_assign(e, c).select("vec_id", "cell").collect()}
    a2 = {r["vec_id"]: r["cell"] for r in simsearch.ivf_assign(e, c).select("vec_id", "cell").collect()}
    assert a1 == a2
    assert len(set(a1.values())) > 1  # vectors actually spread over cells


def test_approx_percentile_close_to_exact(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    rows = li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_quantity", F.lit(0.5), F.lit(10000)).alias("approx"),
        F.percentile("l_quantity", F.lit(0.5)).alias("exact"),
    ).collect()
    for r in rows:
        assert abs(r["approx"] - r["exact"]) <= 1.0, (r["l_returnflag"], r["approx"], r["exact"])


def test_multimodal_resize_bounds_payload(spark):
    from simple_pos_kafka_pyspark_airflow_spark.llm import multimodal

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    assets = multimodal.synthesize_assets(d)
    resized = multimodal.resize_assets(assets, max_bytes=64)
    rows = resized.collect()
    assert len(rows) == 20
    assert all(len(r["payload"]) <= 64 for r in rows)
    assert all(r["meta"]["width"] is None or r["meta"]["width"] <= 64 for r in rows)
    # stage is schema-preserving (simpleString ignores nullability flags)
    assert resized.schema.simpleString() == assets.schema.simpleString()


def test_multimodal_frame_sampling_multiplies_rows(spark):
    from simple_pos_kafka_pyspark_airflow_spark.llm import multimodal

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(10)
    assets = multimodal.synthesize_assets(d, modality="video")
    frames = multimodal.sample_frames(assets, n_frames=4)
    rows = frames.collect()
    assert len(rows) == 40  # 4 frames per asset
    per_asset = {}
    for r in rows:
        per_asset.setdefault(r["asset_id"], []).append(r["frame_idx"])
    assert all(sorted(v) == [0, 1, 2, 3] for v in per_asset.values())
    # frames are slices of the payload, deterministic
    payload = {r["asset_id"]: bytes(r["payload"]) for r in assets.collect()}
    for r in rows[:5]:
        assert bytes(r["frame"]) in payload[r["asset_id"]]


def test_lsh_topk_recall_vs_brute_force(spark):
    """Hyperplane-LSH pruning must keep most of the exact top-10, and a
    full-width Hamming budget (every signature admitted) must reproduce
    brute force exactly — the pruning predicate is the only approximation."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in e.where(F.col("vec_id") == 0).first()["embedding"]]
    exact = [r["vec_id"] for r in simsearch.cosine_topk(e, q, k=10).collect()]
    lsh = [
        r["vec_id"]
        for r in simsearch.cosine_topk_lsh(e, q, k=10, n_planes=16, max_hamming=8).collect()
    ]
    assert len(set(exact) & set(lsh)) >= 5, (exact, lsh)
    full = [
        r["vec_id"]
        for r in simsearch.cosine_topk_lsh(e, q, k=10, n_planes=16, max_hamming=16).collect()
    ]
    assert full == exact


def test_bmp_codec_exact_values():
    """decode_bmp recovers dimensions and channel means exactly from the
    encoded container — pure Python, no Spark, no codec libs."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.multimodal import decode_bmp, encode_bmp

    # 2x2 BGR pixels, top-row-major
    pixels = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120])
    payload = encode_bmp(2, 2, pixels)
    assert payload[:2] == b"BM"
    d = decode_bmp(payload)
    assert (d["width"], d["height"]) == (2, 2)
    assert d["mean_b"] == 55.0  # (10+40+70+100)/4
    assert d["mean_g"] == 65.0
    assert d["mean_r"] == 75.0
    assert d["gray_min"] == 20.0  # (10+20+30)/3
    assert d["gray_max"] == 110.0


def test_bmp_codec_row_padding():
    """Odd widths force BMP row padding; the decoder must strip it."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.multimodal import decode_bmp, encode_bmp

    pixels = bytes([1, 2, 3] * 3)  # 3x1 image, 9-byte row → padded to 12
    payload = encode_bmp(3, 1, pixels)
    d = decode_bmp(payload)
    assert (d["width"], d["height"]) == (3, 1)
    assert (d["mean_b"], d["mean_g"], d["mean_r"]) == (1.0, 2.0, 3.0)


def test_ahash_bmp_properties():
    """The perceptual hash's defining properties, pure Python: identical
    payloads collide; a small pixel perturbation moves at most a few bits
    while a different image moves many; constant and degenerate (1x1)
    images are well-defined; non-BMP bytes raise."""
    import pytest as _pytest

    from simple_pos_kafka_pyspark_airflow_spark.llm.multimodal import ahash_bmp, encode_bmp

    base = bytes((i * 37) % 256 for i in range(8 * 8 * 3))
    h1 = ahash_bmp(encode_bmp(8, 8, base))
    assert h1 == ahash_bmp(encode_bmp(8, 8, base))  # deterministic
    # perturb ONE pixel hard (flip to extreme): at most a few raster bits move
    near = bytearray(base)
    near[0], near[1], near[2] = 255, 255, 255
    h2 = ahash_bmp(encode_bmp(8, 8, bytes(near)))
    assert bin((h1 ^ h2) & ((1 << 64) - 1)).count("1") <= 3
    # a genuinely different image diverges far past the near-dup band
    other = bytes((i * 151 + 89) % 256 for i in range(8 * 8 * 3))
    h3 = ahash_bmp(encode_bmp(8, 8, other))
    assert bin((h1 ^ h3) & ((1 << 64) - 1)).count("1") > 3
    assert ahash_bmp(encode_bmp(4, 4, b"\x07" * 48)) == 0  # constant → ties → 0
    assert ahash_bmp(encode_bmp(1, 1, b"\x01\x02\x03")) == 0
    with _pytest.raises(ValueError):
        ahash_bmp(b"not a bitmap at all")


def test_near_dup_images_ahash_planted_and_corrupt(spark):
    """The image near-dup pipeline finds a byte-identical planted copy at
    hamming 0 and a lightly-perturbed copy within the hamming band, keeps
    unrelated images apart, and DROPS corrupt payloads instead of
    aborting the job."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.multimodal import (
        encode_bmp,
        near_dup_images_ahash,
    )

    base = bytes((i * 37) % 256 for i in range(8 * 8 * 3))
    near = bytearray(base)
    near[0], near[1], near[2] = 255, 255, 255
    other = bytes((i * 151 + 89) % 256 for i in range(8 * 8 * 3))
    rows = [
        (1, encode_bmp(8, 8, base)),
        (2, encode_bmp(8, 8, base)),          # exact copy
        (3, encode_bmp(8, 8, bytes(near))),   # perceptual near-dup
        (4, encode_bmp(8, 8, other)),         # unrelated
        (5, b"corrupt not-a-bmp payload"),    # must be dropped, not fatal
    ]
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in near_dup_images_ahash(df, max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0 and pairs[(2, 3)] == pairs[(1, 3)] <= 3
    assert all(4 not in p and 5 not in p for p in pairs)


def test_fingerprint_wav_properties():
    """The audio fingerprint's defining properties: deterministic; a
    LOCALIZED amplitude edit moves only the delta bits whose windows it
    touches (≤ 2 per edited window) while different audio diverges far
    past the near-dup band; empty audio is well-defined; junk raises."""
    import numpy as np
    import pytest as _pytest

    from simple_pos_kafka_pyspark_airflow_spark.llm.multimodal import encode_wav, fingerprint_wav

    s = (np.sin(np.linspace(0, 40, 4000)) * 20000).astype(int)
    f1 = fingerprint_wav(encode_wav(s))
    assert f1 == fingerprint_wav(encode_wav(s))
    edited = s.copy()
    edited[100:160] = 32000  # one ~61-sample window saturated
    f2 = fingerprint_wav(encode_wav(edited))
    assert bin((f1 ^ f2) & ((1 << 64) - 1)).count("1") <= 3
    other = (np.cos(np.linspace(0, 97, 4000)) * 15000).astype(int)
    f3 = fingerprint_wav(encode_wav(other))
    assert bin((f1 ^ f3) & ((1 << 64) - 1)).count("1") > 3
    assert fingerprint_wav(encode_wav([])) == 0
    with _pytest.raises(ValueError):
        fingerprint_wav(b"not audio")


def test_near_dup_audio_planted_and_corrupt(spark):
    """The audio near-dup pipeline: byte-identical planted copy at
    hamming 0, locally-edited copy within the band, unrelated audio
    apart, corrupt payloads dropped not fatal."""
    import numpy as np

    from simple_pos_kafka_pyspark_airflow_spark.llm.multimodal import (
        encode_wav,
        near_dup_audio_fingerprint,
    )

    s = (np.sin(np.linspace(0, 40, 4000)) * 20000).astype(int)
    edited = s.copy()
    edited[100:160] = 32000
    other = (np.cos(np.linspace(0, 97, 4000)) * 15000).astype(int)
    rows = [
        (1, encode_wav(s)),
        (2, encode_wav(s)),
        (3, encode_wav(edited)),
        (4, encode_wav(other)),
        (5, b"corrupt"),
    ]
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in near_dup_audio_fingerprint(df, max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0 and (1, 3) in pairs and pairs[(1, 3)] <= 3
    assert all(4 not in p and 5 not in p for p in pairs)


def test_wav_codec_exact_values():
    import math

    from simple_pos_kafka_pyspark_airflow_spark.llm.multimodal import decode_wav, encode_wav

    payload = encode_wav([0, 1000, -1000, 2000], sample_rate=8000)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    d = decode_wav(payload)
    assert d["sample_rate"] == 8000
    assert d["n_samples"] == 4
    assert d["duration_ms"] == 0.5
    assert abs(d["rms"] - math.sqrt((1000**2 + 1000**2 + 2000**2) / 4)) < 1e-9
    assert d["sample_min"] == -1000.0
    assert d["sample_max"] == 2000.0


def test_codec_rejects_garbage():
    import pytest

    from simple_pos_kafka_pyspark_airflow_spark.llm.multimodal import decode_bmp, decode_wav

    with pytest.raises(ValueError):
        decode_bmp(b"not a bitmap at all, definitely not")
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxJUNK")


def test_multimodal_extract_features_real_decode(spark):
    """End-to-end: synthesized BMP/WAV payloads flow through the Arrow
    mapInPandas path and come back with features that match a driver-side
    decode of the same container — the decode is real, not a stub."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import multimodal

    d = spark.createDataFrame(
        [(1, "hello world, twenty-six chars"), (2, "tiny")], ["doc_id", "text"]
    )
    img = multimodal.synthesize_media_assets(d, modality="image")
    feats = {r["asset_id"]: r for r in multimodal.extract_features(img).collect()}
    payloads = {r["asset_id"]: bytes(r["payload"]) for r in img.collect()}
    for aid, row in feats.items():
        ref = multimodal.decode_bmp(payloads[aid])
        got = [float(x) for x in row["feature"]]
        assert got[0] == ref["width"] and got[1] == ref["height"]
        assert abs(got[2] - ref["mean_b"]) < 1e-3  # feature stored float32
        assert abs(got[4] - ref["mean_r"]) < 1e-3
        assert got[7] == 24.0

    wav = multimodal.synthesize_media_assets(d, modality="audio")
    wfeats = {r["asset_id"]: r for r in multimodal.extract_features(wav).collect()}
    wpayloads = {r["asset_id"]: bytes(r["payload"]) for r in wav.collect()}
    for aid, row in wfeats.items():
        ref = multimodal.decode_wav(wpayloads[aid])
        got = [float(x) for x in row["feature"]]
        assert got[0] == ref["sample_rate"]
        assert got[2] == ref["n_samples"]
        assert abs(got[4] - ref["rms"]) < 1e-2  # float32 storage of the feature
        assert got[7] == 16.0


def test_ivf_centroids_sparse_ids(spark):
    """Sparse / non-contiguous ids (e.g. after dedup filtering) must still
    yield exactly n_cells centroids — the old `_id % stride` pick
    degenerated to fewer cells on sparse ids."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch

    rows = [(i * 1000003 + 17, [float(i % 7), float(i % 5), float(i % 3)]) for i in range(50)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    c = simsearch.ivf_centroids(df, n_cells=8)
    assert len(c) == 8
    # deterministic across invocations
    assert c == simsearch.ivf_centroids(df, n_cells=8)


def test_normalize_embeddings_by_group_matches_numpy(spark):
    """applyInPandas whitening must equal the driver-side numpy twin
    exactly (same float32 output), with mean~0 / std~1 per group and
    zero-variance dims passed through unscaled."""
    import numpy as np

    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch

    rows = [
        (i, "a" if i % 2 == 0 else "b", [float(i), float(i * i % 7), 5.0])
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<float>")
    out = {
        r["vec_id"]: (r["label"], np.array(r["embedding"], dtype="float32"))
        for r in simsearch.normalize_embeddings_by_group(df).collect()
    }
    assert len(out) == 12
    by_label = {}
    for vid, lab, vec in rows:
        by_label.setdefault(lab, []).append((vid, vec))
    for lab, members in by_label.items():
        m = np.array([v for _, v in members], dtype="float64")
        mu, sd = m.mean(axis=0), m.std(axis=0)
        sd[sd == 0.0] = 1.0
        w = ((m - mu) / sd).astype("float32")
        for (vid, _), want in zip(members, w):
            got_lab, got = out[vid]
            assert got_lab == lab
            assert np.array_equal(got, want), (vid, got, want)
        # constant dim (index 2) passes through centered but unscaled
        grp = np.stack([out[vid][1] for vid, _ in members])
        assert np.allclose(grp[:, 2], 0.0)
        assert np.allclose(grp.mean(axis=0), 0.0, atol=1e-6)


def test_chunk_documents_overlapping_stride(spark):
    """stride < max_tokens yields overlapping windows: consecutive chunks
    share exactly max_tokens - stride tokens; starts past the end are not
    emitted; every token appears in at least one chunk; stride=max_tokens
    reproduces the disjoint form; stride<=0 raises."""
    import pytest as _pytest

    from simple_pos_kafka_pyspark_airflow_spark.llm import filtering

    toks = [f"t{i}" for i in range(10)]
    df = spark.createDataFrame([(1, " ".join(toks))], ["doc_id", "text"])
    out = {r["chunk_idx"]: r["chunk_text"].split(" ")
           for r in filtering.chunk_documents(df, max_tokens=4, stride=2).collect()}
    assert out[0] == ["t0", "t1", "t2", "t3"]
    assert out[1] == ["t2", "t3", "t4", "t5"]  # 2 tokens of overlap
    assert out[4] == ["t8", "t9"]              # last window keeps remainder
    assert len(out) == 5                       # start 10 >= n -> not emitted
    covered = {t for c in out.values() for t in c}
    assert covered == set(toks)

    disjoint = filtering.chunk_documents(df, max_tokens=4).collect()
    explicit = filtering.chunk_documents(df, max_tokens=4, stride=4).collect()
    assert sorted(map(tuple, disjoint)) == sorted(map(tuple, explicit))
    with _pytest.raises(ValueError, match="stride"):
        filtering.chunk_documents(df, max_tokens=4, stride=0)
    # stride > max_tokens would silently drop tokens between windows
    # (ADVICE r6) — must raise, not gap-sample
    with _pytest.raises(ValueError, match="drop"):
        filtering.chunk_documents(df, max_tokens=4, stride=6)


def test_unigram_logprob_scores_math_and_ranking(spark):
    """Hand-computable corpus: scores equal the exact mean ln(c/N) per
    doc; a doc of corpus-rare tokens scores strictly below one of common
    tokens (the filter property); zero-token docs produce no row."""
    import math

    from simple_pos_kafka_pyspark_airflow_spark.llm import textops as t

    df = spark.createDataFrame(
        [
            (1, "the the cat"),
            (2, "the cat"),
            (3, "zzz"),
            (4, "   "),
        ],
        ["doc_id", "text"],
    )
    # corpus counts: the=3, cat=2, zzz=1; N=6
    got = {r["doc_id"]: (r["n_tokens"], r["mean_logprob"])
           for r in t.unigram_logprob_scores(df, "text", "doc_id").collect()}
    N = 6.0
    lp = lambda c: math.log(c / N)  # noqa: E731
    assert got[1] == (3, round((2 * lp(3) + lp(2)) / 3, 6))
    assert got[2] == (2, round((lp(3) + lp(2)) / 2, 6))
    assert got[3] == (1, round(lp(1), 6))
    assert 4 not in got  # zero tokens -> undefined mean -> no row
    assert got[3][1] < got[2][1] < got[1][1]  # rare-token doc scores lowest


def test_temperature_keep_rates_math(spark):
    """Hand-checkable mixture: sources with 100/400/1600 tokens at
    alpha=0.5 keep 1000/500/250 per-mille (rate ∝ sqrt(t_min/t_i));
    alpha=1 keeps the natural mixture (all rates = mod); alpha→0
    flattens fully (rate ∝ t_min/t_i)."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import filtering

    rows = []
    did = 0
    for src, n_docs, toks_per_doc in [("a", 10, 10), ("b", 20, 20), ("c", 40, 40)]:
        for _ in range(n_docs):
            rows.append((did, src, " ".join(["w"] * toks_per_doc)))
            did += 1
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")

    def rates(alpha):
        return {r["source"]: r["rate"]
                for r in filtering.temperature_keep_rates(df, "source", "text", alpha).collect()}

    assert rates(0.5) == {"a": 1000, "b": 500, "c": 250}
    assert rates(1.0) == {"a": 1000, "b": 1000, "c": 1000}
    assert rates(0.0) == {"a": 1000, "b": 250, "c": 62}  # t_min/t_i = 1, 1/4, 1/16

    kept = filtering.temperature_sample(df, "source", "text", alpha=0.5)
    assert kept.where("source = 'a'").count() == 10  # smallest source keeps all
    assert kept.count() < len(rows)  # larger sources actually downsampled


def test_hamming_pairs_block_cap(spark):
    """The quarter-block cap: a degenerate block (hundreds of identical
    signatures — e.g. blank images all hashing to 0) stops producing
    pairs once it exceeds max_block, while a small real near-dup pair in
    a different block survives. This is the guard against the O(n²)
    single-task block at scale."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.dedup import hamming_pairs_64

    rows = [(i, 0) for i in range(50)]  # one degenerate all-zero block
    real_sig = (0x1234 << 48) | (0x5678 << 32) | (0x9ABC << 16) | 0xDEF0
    rows += [(100, real_sig), (101, real_sig ^ 1)]  # hamming-1 pair
    df = spark.createDataFrame(rows, "_id long, _sim long")

    capped = hamming_pairs_64(df, max_hamming=3, max_block=10)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got == {(100, 101)}  # degenerate block dropped, real pair kept

    uncapped = hamming_pairs_64(df, max_hamming=3, max_block=None)
    assert uncapped.count() == 50 * 49 // 2 + 1  # the quadratic blow-up the cap prevents


def test_canonical_dedup_catches_case_punct_variants(spark):
    """Canonical-form exact dedup groups verbatim copies that differ only
    in case/punctuation/whitespace — which raw exact dedup must NOT group
    — while word-order variants stay distinct (that's token-bag's job)."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import dedup as d

    df = spark.createDataFrame(
        [
            (1, "Hello, World! This is FINE."),
            (2, "hello world   this is fine"),
            (3, "world hello this is fine"),  # reordered: NOT canonical-equal
            (4, "something else entirely"),
        ],
        ["doc_id", "text"],
    )
    canon = {(r["keep_id"], r["n_copies"])
             for r in d.canonical_dup_groups(df, "text", "doc_id").collect()}
    assert canon == {(1, 2), (3, 1), (4, 1)}
    raw = {(r["keep_id"], r["n_copies"])
           for r in d.exact_dup_groups(df, "text", "doc_id").collect()}
    assert raw == {(1, 1), (2, 1), (3, 1), (4, 1)}  # raw form keeps all four


def test_intra_doc_span_dedup_removes_self_repetition(spark):
    """Within-doc repetition removal: a doc repeating its own span keeps
    only the FIRST occurrence in order; unique docs pass through intact;
    zero-token docs survive with empty text and zero counts. Line mode
    (delimiter) dedups whole lines."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import dedup as d

    df = spark.createDataFrame(
        [
            # spans (3 tokens): [nav bar home] [alpha beta gamma] [nav bar home]
            (1, "nav bar home alpha beta gamma nav bar home"),
            (2, "all unique tokens here nothing repeats at all"),
            (3, "   "),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: (r["text_clean"], r["n_spans"], r["n_dup_spans"])
           for r in d.intra_doc_span_dedup(df, "text", "doc_id", span_tokens=3).collect()}
    assert got[1] == ("nav bar home alpha beta gamma", 3, 1)
    assert got[2] == ("all unique tokens here nothing repeats at all", 3, 0)
    assert got[3] == ("", 0, 0)

    lines = spark.createDataFrame(
        [(7, "subscribe now\nreal content\nsubscribe now\nmore content")],
        ["doc_id", "text"],
    )
    out = d.intra_doc_span_dedup(lines, "text", "doc_id", delimiter="\n").collect()[0]
    assert out["text_clean"] == "subscribe now\nreal content\nmore content"
    assert (out["n_spans"], out["n_dup_spans"]) == (4, 1)


def test_simhash_planted_pair_oracle_survives_whitespace_doc(spark, tmp_path):
    """q_dedup_simhash's oracle asserts one planted pair per document, but
    simhash_df drops zero-token texts — a whitespace-only doc would have
    silently dropped its pair and failed the row-count compare (latent:
    the shipped testdata has no such rows). Both sides now exclude
    trim(text)='' docs; pin that on a corpus WITH such a row."""
    import shutil

    import pandas as pd

    from simple_pos_kafka_pyspark_airflow_spark.testing import check_query

    src = "/root/testdata/sf0.001"
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "embeddings"]:
        shutil.copy(f"{src}/{t}.parquet", str(tmp_path / f"{t}.parquet"))
    d = pd.read_parquet(f"{src}/documents.parquet")
    extra = d.iloc[[0]].copy()
    extra["doc_id"] = 999_999
    extra["text"] = "   "
    pd.concat([d, extra], ignore_index=True).to_parquet(
        str(tmp_path / "documents.parquet")
    )
    res = check_query(spark, "q_dedup_simhash", str(tmp_path))
    assert res.ok, str(res)


def test_normalize_grouped_whitening_edge_cases(spark):
    """Grouped-map whitening clamps a zero-variance dimension's std to 1
    (no NaN/Inf) and whitens a single-row group to zeros."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch

    edge = spark.createDataFrame(
        [(1, "solo", [2.0, 5.0]), (2, "duo", [1.0, 5.0]), (3, "duo", [3.0, 5.0])],
        "vec_id long, label string, embedding array<float>",
    )
    got = {
        r["vec_id"]: list(r["embedding"])
        for r in simsearch.normalize_embeddings_by_group(edge).collect()
    }
    assert got[1] == [0.0, 0.0]  # single-row group whitens to zeros
    assert got[2] == [-1.0, 0.0] and got[3] == [1.0, 0.0]


def test_dedup_clusters_known_components(spark):
    """Min-label propagation must assign every node the component minimum,
    cover singletons from all_ids, and converge on a chain longer than one
    propagation hop (1-2, 2-3, 3-4 => all label 1)."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 20, 21, 99]], "doc_id long")
    out = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in
           dedup.dedup_clusters(pairs, all_ids=ids).collect()}
    assert out == {
        1: (1, True), 2: (1, False), 3: (1, False), 4: (1, False),
        10: (10, True), 11: (10, False),
        20: (20, True), 21: (20, False),
        99: (99, True),
    }


def test_ivf_cell_partition_pruning(spark, tmp_path):
    """The IVF scale story made concrete: with the cell id as the storage
    partition key, a probe's cell filter becomes partition pruning — the
    scan's PartitionFilters carries the cell predicate and only nprobe
    directories are read."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = simsearch.ivf_centroids(e, n_cells=8)
    assigned = simsearch.ivf_assign(e, cents, out_col="cell")
    path = str(tmp_path / "ivf_table")
    assigned.write.partitionBy("cell").parquet(path)
    probe = spark.read.parquet(path).where(F.col("cell").isin([0, 3]))
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe.explain(mode="formatted")
    plan = buf.getvalue()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "cell" in pf[0], plan
    # only the probed cells' rows come back, and they match the in-memory assignment
    want = {r["vec_id"] for r in assigned.where(F.col("cell").isin([0, 3])).collect()}
    got = {r["vec_id"] for r in probe.collect()}
    assert got == want and got  # non-vacuous


def test_quantize_dequantize_roundtrip(spark):
    """Dequantized vectors must be within scale/2 per element, and the
    int8 codes within [-127, 127]."""
    import numpy as np

    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    scale, q = simsearch.quantize_embedding(F.col("embedding"))
    qdf = e.select("vec_id", "embedding", scale.alias("s"), q.alias("q"))
    out = qdf.withColumn("deq", simsearch.dequantize_embedding(F.col("q"), F.col("s")))
    for r in out.collect():
        v = np.array(r["embedding"], dtype="float64")
        dq = np.array(r["deq"], dtype="float64")
        assert all(-127 <= x <= 127 for x in r["q"])
        assert np.abs(v - dq).max() <= r["s"] / 2 + 1e-7, r["vec_id"]


def test_boilerplate_span_dedup_excises_shared_spans(spark):
    """A 3-token span present verbatim in two docs must vanish from both,
    other spans stay, order preserved, drop counts exact."""
    df = spark.createDataFrame(
        [
            (1, "one two three shared span here four five six"),
            (2, "shared span here seven eight nine"),
            (3, "totally unrelated words only appearing once"),
        ],
        ["doc_id", "text"],
    )
    # spans of doc1: [one two three][shared span here][four five six]
    # spans of doc2: [shared span here][seven eight nine]
    out = {
        r["doc_id"]: r
        for r in dedup.boilerplate_span_dedup(
            df, "text", "doc_id", span_tokens=3, min_docs=2
        ).collect()
    }
    assert out[1]["text_clean"] == "one two three four five six"
    assert out[1]["n_dropped"] == 1
    assert out[2]["text_clean"] == "seven eight nine"
    assert out[2]["n_dropped"] == 1
    assert out[3]["text_clean"] == "totally unrelated words only appearing once"
    assert out[3]["n_dropped"] == 0


def test_boilerplate_span_dedup_delimiter_mode_and_empty_doc(spark):
    """Delimiter segmentation = true line dedup; an all-boilerplate or
    empty document survives as an empty string with the right count."""
    df = spark.createDataFrame(
        [
            (1, "keep me\ncommon footer\nalso keep"),
            (2, "common footer"),
            (3, ""),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in dedup.boilerplate_span_dedup(
            df, "text", "doc_id", min_docs=2, delimiter="\n"
        ).collect()
    }
    assert out[1]["text_clean"] == "keep me\nalso keep"
    assert out[1]["n_dropped"] == 1
    assert out[2]["text_clean"] == "" and out[2]["n_dropped"] == 1
    assert out[3]["text_clean"] == "" and out[3]["n_dropped"] == 0


def test_containment_catches_subdocument_jaccard_misses(spark):
    """A short doc embedded in a much larger one: containment ≈ 1 (caught)
    while Jaccard is far below 0.8 (missed by the Jaccard rung) — the
    exact gap this operator exists to close."""
    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + " ".join(f"tok{i} filler{i} extra{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, short, "en"), (2, long, "en"), (3, "unrelated words here entirely", "en")],
        ["doc_id", "text", "lang"],
    )
    got = dedup.containment_pairs_blocked(
        df, "text", "doc_id", block_cols=["lang"], n=3, threshold=0.8
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [(1, 2)]
    assert got[0]["containment"] >= 0.99
    jac = dedup.ngram_jaccard_pairs_blocked(
        df, "text", "doc_id", block_cols=["lang"], n=3, threshold=0.8
    ).collect()
    assert jac == []  # Jaccard rung misses the embedded pair at the same threshold


def test_document_stat_rules_bits(spark):
    """Each rule trips on its designed pathology and only that one."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import filtering

    good = "the cat and the dog sat in a warm house near the fire"
    symbols = "the and " + " ".join(["###"] * 10)
    repeat = "the and " + " ".join(["big red car"] * 10)
    longwords = "the and " + " ".join(["pneumonoultramicroscopic"] * 10)
    numbers = "the and " + " ".join(str(i) for i in range(20))
    df = spark.createDataFrame(
        [(1, good), (2, symbols), (3, repeat), (4, longwords), (5, numbers)],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in filtering.document_stat_rules(df, "text", "doc_id").collect()}
    assert out[1]["keep"] == 1
    assert out[2]["symbol_ok"] == 0 and out[2]["keep"] == 0
    assert out[3]["dup3_ok"] == 0 and out[3]["keep"] == 0
    assert out[4]["meanlen_ok"] == 0 and out[4]["keep"] == 0
    assert out[5]["alpha_ok"] == 0 and out[5]["keep"] == 0
    # all have >= 2 distinct stopwords ('the', 'and') => stop_ok everywhere
    assert all(r["stop_ok"] == 1 for r in out.values())


def test_ngram_occurrence_counts_sliding(spark):
    """Sliding (not distinct-per-doc) semantics: 'a b a b' has bigrams
    [a b][b a][a b] — 'a b' counts twice; docs shorter than n contribute
    nothing."""
    df = spark.createDataFrame([(1, "a b a b"), (2, "solo")], ["doc_id", "text"])
    got = {
        r["ngram"]: r["n_occ"]
        for r in textops.ngram_occurrence_counts(df, "text", n=2).collect()
    }
    assert got == {"a b": 2, "b a": 1}


def test_ivf_assign_tiebreak_first_centroid(spark):
    """Exact cosine ties (duplicate centroids) must resolve to the LOWEST
    centroid index — the contract q_embed_assign's oracle pins with
    (score DESC, cid) ordering; np.argmax's first-index behavior is what
    makes the two engines agree, so it must not regress."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch

    df = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])], ["vec_id", "embedding"])
    cents = [[0.0, 1.0], [1.0, 0.0], [1.0, 0.0]]  # cents 1 and 2 identical
    out = {
        r["vec_id"]: r["cell"]
        for r in simsearch.ivf_assign(df, cents, "embedding").collect()
    }
    assert out[1] == 1  # tie between centroids 1 and 2 → lowest index
    assert out[2] == 0


def test_cap_per_group_semantics(spark):
    """At most `cap` rows per group survive; a group under the cap keeps
    everything; the kept set is the deterministic md5-rank sample, so two
    invocations agree row-for-row."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import filtering

    rows = [(i, "big") for i in range(10)] + [(100 + i, "small") for i in range(2)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    kept = filtering.cap_per_group(df, "source", cap=3, id_col="doc_id")
    by_src = {r["source"]: [] for r in kept.collect()}
    for r in kept.collect():
        by_src[r["source"]].append(r["doc_id"])
    assert len(by_src["big"]) == 3
    assert sorted(by_src["small"]) == [100, 101]
    again = sorted((r["source"], r["doc_id"]) for r in
                   filtering.cap_per_group(df, "source", cap=3, id_col="doc_id").collect())
    assert again == sorted((r["source"], r["doc_id"]) for r in kept.collect())


def test_exact_ngram_collisions_planted_leak(spark):
    """A corpus doc embedding a probe doc's 5-gram verbatim is flagged
    with the right distinct-probe count; docs with no shared n-gram (or
    too short to have one) are absent."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import dedup as d

    corpus = spark.createDataFrame(
        [
            (1, "intro words here then THE SECRET EVAL ANSWER IS purple finally"),
            (2, "completely unrelated text with many distinct tokens overall"),
            (3, "too short"),
        ],
        ["doc_id", "text"],
    )
    probe = spark.createDataFrame(
        [
            (900, "the secret eval answer is purple"),
            (901, "answer is purple and nothing else matters"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["n_probe_hits"]
           for r in d.exact_ngram_collisions(corpus, probe, n=5).collect()}
    # doc 1 shares 5-grams with probe 900 (case-insensitive); probe 901's
    # only 5-grams don't appear in doc 1's sliding windows? 'answer is purple
    # and nothing' — not in corpus; so exactly one distinct probe hit.
    assert got == {1: 1}


def test_exact_ngram_collisions_hot_gram_cap(spark):
    """The default-on hot-gram cap: a stopword gram present in every
    corpus doc must stop producing candidate pairs once its corpus
    frequency exceeds ``max_gram_docs`` — the skewed-shuffle guard — while
    a rare (real-leak) gram in the same docs still flags them."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import dedup as d

    boiler = "of the in a to and for with on at"  # one hot 10-token span
    corpus = spark.createDataFrame(
        [(i, f"{boiler} unique{i} filler{i} pad{i} x{i} y{i}") for i in range(6)]
        + [(99, f"{boiler} THE SECRET EVAL ANSWER IS purple tail words here")],
        ["doc_id", "text"],
    )
    probe = spark.createDataFrame(
        [(900, f"{boiler} something else entirely different tokens"),
         (901, "the secret eval answer is purple")],
        ["doc_id", "text"],
    )
    uncapped = {r["doc_id"]: r["n_probe_hits"]
                for r in d.exact_ngram_collisions(corpus, probe, n=5,
                                                  max_gram_docs=None).collect()}
    assert set(uncapped) == {0, 1, 2, 3, 4, 5, 99}  # boilerplate hits everything
    capped = {r["doc_id"]: r["n_probe_hits"]
              for r in d.exact_ngram_collisions(corpus, probe, n=5,
                                                max_gram_docs=5).collect()}
    # the boiler grams sit in 7 > 5 corpus docs -> dropped; only the real
    # verbatim leak survives, and its hit count no longer includes probe 900
    assert capped == {99: 1}


def test_exact_ngram_collisions_cap_bounds_join_input(spark):
    """Row-count bound on the join's corpus side: after the cap filter, no
    gram key may carry more than ``max_gram_docs`` corpus rows (this is
    the property that bounds any single shuffle task at 100 TB)."""
    from pyspark.sql import functions as F

    from simple_pos_kafka_pyspark_airflow_spark.llm.dedup import tokens
    from simple_pos_kafka_pyspark_airflow_spark.llm.textops import sliding_grams

    cap = 5
    boiler = "of the in a to and for with on at"
    corpus = spark.createDataFrame(
        [(i, f"{boiler} unique{i} filler{i} pad{i}") for i in range(8)],
        ["doc_id", "text"],
    )
    # reproduce the capped corpus side exactly as exact_ngram_collisions
    # builds it, then assert the per-gram bound
    toks = tokens(F.lower(F.col("text")))
    c = (
        corpus.select(F.col("doc_id"), toks.alias("_toks"))
        .where(F.size("_toks") >= 5)
        .select("doc_id", F.explode(F.array_distinct(sliding_grams(F.col("_toks"), 5))).alias("_gram"))
    )
    ok = c.groupBy("_gram").count().where(F.col("count") <= cap).drop("count")
    capped_c = c.join(ok, "_gram")
    worst = capped_c.groupBy("_gram").count().agg(F.max("count")).first()[0]
    assert worst is not None and worst <= cap
    # and the hot boiler grams really were present pre-cap (the test bites)
    pre = c.groupBy("_gram").count().agg(F.max("count")).first()[0]
    assert pre == 8


def test_corpus_mixture_shares_sum_to_one(spark, sf_dir):
    from simple_pos_kafka_pyspark_airflow_spark.catalog import table
    from simple_pos_kafka_pyspark_airflow_spark.llm import textops as t

    d = table(spark, sf_dir, "documents")
    rows = t.corpus_mixture(d).collect()
    assert abs(sum(r["token_share"] for r in rows) - 1.0) < 1e-9
    assert sum(r["n_docs"] for r in rows) == d.count()
    for r in rows:
        assert abs(r["mean_tokens"] - r["sum_tokens"] / r["n_docs"]) < 1e-12


def test_span_dedup_metachar_delimiter_is_literal(spark):
    """The delimiter is a LITERAL separator, not a regex: splitting on '.'
    must segment sentences, not atomize the text (an unquoted '.' regex
    matches every character — every doc would come back empty)."""
    docs = spark.createDataFrame(
        [
            (1, "unique alpha.SHARED BOILERPLATE.unique beta"),
            (2, "other gamma.SHARED BOILERPLATE.other delta"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["text_clean"], r["n_dropped"])
        for r in dedup.boilerplate_span_dedup(
            docs, "text", "doc_id", min_docs=2, delimiter="."
        ).collect()
    }
    assert out[1] == ("unique alpha.unique beta", 1)
    assert out[2] == ("other gamma.other delta", 1)


def test_containment_exact_boundary_threshold_is_kept(spark):
    """A pair at EXACTLY the threshold must pass: the cut is true integer
    cross-multiplication (den*I >= num*min), where float ceil(t*min)
    would drop it (ceil(0.55*20) evaluates to 12 in IEEE doubles)."""
    # A: 22 distinct tokens -> 20 shingles (the SMALLER set, min=20).
    # B: A's first 13 tokens + 19 fresh -> 30 shingles, sharing exactly
    # the 11 windows fully inside that 13-token prefix (the two boundary
    # windows mix fresh tokens and match nothing in A).
    # containment = 11/20 = 0.55 exactly.
    a_tokens = [f"w{i}" for i in range(22)]
    b_tokens = a_tokens[:13] + [f"x{i}" for i in range(19)]
    docs = spark.createDataFrame(
        [(1, " ".join(a_tokens), "g"), (2, " ".join(b_tokens), "g")],
        ["doc_id", "text", "lang"],
    )
    pairs = dedup.containment_pairs_blocked(
        docs, "text", "doc_id", block_cols=["lang"], n=3, threshold=0.55
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]
    assert abs(pairs[0]["containment"] - 0.55) < 1e-9


def test_dedup_clusters_empty_pairs_fast_path(spark):
    """Zero pairs — the common case for a streaming micro-batch — must
    yield all-singleton clusters without running the propagation loop,
    and an empty frame (typed like the pair columns) without all_ids."""
    pairs = spark.createDataFrame([], "id_a long, id_b long, jaccard double")
    ids = spark.createDataFrame([(7,), (9,)], ["doc_id"])
    out = {r["doc_id"]: (r["cluster_id"], r["keep"])
           for r in dedup.dedup_clusters(pairs, all_ids=ids).collect()}
    assert out == {7: (7, True), 9: (9, True)}
    bare = dedup.dedup_clusters(pairs)
    assert bare.columns == ["doc_id", "cluster_id", "keep"]
    assert bare.count() == 0


def test_asof_join_picks_latest_row_atomically(spark):
    """The as-of match is a ROW, not per-column fills: a NULL in the
    latest right row stays NULL (never backfilled from an older row), and
    all picked values come from the same right row."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.joins import asof_join_backward

    right = spark.createDataFrame(
        [(1, 1, 5.0, 2), (1, 2, None, 3)], "k long, t long, price double, qty long"
    )
    left = spark.createDataFrame([(1, 3)], "k long, t long")
    row = asof_join_backward(left, right, "k", "k", "t", "t", ["price", "qty"]).collect()[0]
    assert row["qty"] == 3
    assert row["price"] is None  # latest row's NULL, not t=1's stale 5.0


def test_asof_join_forward_earliest_following_row(spark):
    """Forward as-of: EARLIEST right row at-or-after each left ts per
    key — equal timestamps match (inclusive), the pick is atomic (a
    NULL in the earliest following row is never forward-filled from a
    later one), and a left row with no following right row gets nulls."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.joins import (
        asof_join_forward,
    )

    right = spark.createDataFrame(
        [(1, 5, None, 50), (1, 8, 9.0, 80), (2, 1, 1.0, 10)],
        "k long, t long, price double, qty long",
    )
    left = spark.createDataFrame(
        [(1, 5), (1, 6), (1, 9), (2, 0)], "k long, t long"
    )
    got = {
        (r["k"], r["t"]): (r["price"], r["qty"])
        for r in asof_join_forward(
            left, right, "k", "k", "t", "t", ["price", "qty"]
        ).collect()
    }
    assert got[(1, 5)] == (None, 50)   # inclusive equal-ts match, atomic NULL
    assert got[(1, 6)] == (9.0, 80)    # next row forward
    assert got[(1, 9)] == (None, None)  # nothing follows
    assert got[(2, 0)] == (1.0, 10)


def test_range_join_left_no_spurious_bucket_duplicates(spark):
    """how='left': a left row matching in one of its bucket copies emits
    only its matches; an unmatched left row (including NULL-ts) emits
    exactly ONE null-extended row — never one per bucket copy."""
    import datetime

    from simple_pos_kafka_pyspark_airflow_spark.operators.joins import range_join_bucketed

    t = datetime.datetime
    left = spark.createDataFrame(
        [(1, t(2026, 1, 1, 23, 0)), (2, t(2026, 1, 5, 0, 0)), (3, None)],
        "lid long, lts timestamp",
    )
    right = spark.createDataFrame(
        [(10, t(2026, 1, 2, 1, 0))], "rid long, rts timestamp"
    )
    out = range_join_bucketed(left, right, "lts", "rts", window="1 day", how="left")
    rows = sorted(out.collect(), key=lambda r: r["lid"])
    assert [r["lid"] for r in rows] == [1, 2, 3]  # exactly one row each
    assert rows[0]["rid"] == 10          # matched (window straddles midnight)
    assert rows[1]["rid"] is None        # in range of nothing
    assert rows[2]["rid"] is None        # NULL ts preserved, null-extended


def test_membership_tiers_refreshes_existing_column(spark):
    """The reference CUSTOMERS table already carries membership_level —
    the computation REFRESHES it, so a dim with the column present must
    work (previously an ambiguous-reference error) and the stale value
    must be replaced."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.relational import membership_tiers

    customers = spark.createDataFrame(
        [(1, "Ada", "stale_gold"), (2, "Bob", "stale_none")],
        "customer_id long, name string, membership_level string",
    )
    orders = spark.createDataFrame([(1, 60000.0)], "o_custkey long, amount double")
    out = {
        r["customer_id"]: r["membership_level"]
        for r in membership_tiers(
            customers, orders, "customer_id", "o_custkey", "amount"
        ).collect()
    }
    assert "stale_gold" not in out.values() and "stale_none" not in out.values()
    assert out[1] != out[2]  # spender tiered above the no-order floor


def test_batch_topk_matches_per_query_topk(spark):
    """cosine_topk_batch over N query vectors must agree exactly, query by
    query, with N independent cosine_topk runs — same scores, same order,
    same tiebreaks."""
    from pyspark.sql import functions as F

    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = e.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    batch = simsearch.cosine_topk_batch(e, queries, k=7).collect()
    by_query: dict[int, list[tuple[int, float]]] = {}
    for r in sorted(batch, key=lambda r: (r["query_id"], r["rn"])):
        by_query.setdefault(r["query_id"], []).append((r["vec_id"], r["score"]))
    assert sorted(by_query) == [0, 1, 2, 3]
    for qid, got in by_query.items():
        qv = [float(x) for x in e.where(F.col("vec_id") == qid).first()["embedding"]]
        want = [(r["vec_id"], r["score"]) for r in simsearch.cosine_topk(e, qv, k=7).collect()]
        assert got == want, (qid, got, want)


def test_batch_topk_empty_inputs_yield_empty_frame(spark):
    """Empty queries and an empty corpus each give an empty batched top-k
    with the (query_id, vec_id, score, rn) columns."""
    from pyspark.sql import functions as F

    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    no_queries = e.where(F.lit(False)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = simsearch.cosine_topk_batch(e, no_queries, k=8)
    assert got.columns == ["query_id", "vec_id", "score", "rn"]
    assert got.count() == 0

    queries = e.limit(2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got2 = simsearch.cosine_topk_batch(e.where(F.lit(False)), queries, k=8)
    assert got2.columns == ["query_id", "vec_id", "score", "rn"]
    assert got2.count() == 0


def test_quantize_arrow_bit_identical_to_column_form(spark):
    """The Arrow quantizer and the Column-expression quantizer must agree
    bit-for-bit (max is order-independent; scale/divide/floor are
    elementwise IEEE ops) — they are interchangeable mid-corpus."""
    from pyspark.sql import functions as F

    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    scale, codes = simsearch.quantize_embedding(F.col("embedding"))
    col_form = {
        r["vec_id"]: (r["s"], list(r["q"]))
        for r in e.select("vec_id", scale.alias("s"), codes.alias("q")).collect()
    }
    arrow_form = {
        r["vec_id"]: (r["q_scale"], list(r["q_codes"]))
        for r in simsearch.quantize_embeddings_arrow(e).select(
            "vec_id", "q_scale", "q_codes"
        ).collect()
    }
    assert col_form == arrow_form


def test_token_psi_separates_stable_vs_rewritten_corpus(spark):
    """Token-distribution PSI: two halves of the corpus are stable
    (< 0.25); a vowel-rewritten copy (most tokens leave the reference
    vocabulary, mass floods <oov>) reads as severe drift (> 1) — the
    text twin of the value-drift monitor, sharing psi_drift. (The
    synthetic documents share one vocabulary across lang labels, so
    drift must be manufactured, not sampled.)"""
    from pyspark.sql import functions as F

    from simple_pos_kafka_pyspark_airflow_spark.llm import textops
    from simple_pos_kafka_pyspark_airflow_spark.operators import validation

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ref = textops.token_distribution(docs.where(F.col("doc_id") % 2 == 0), top_n=50)

    same = textops.token_distribution_against(docs.where(F.col("doc_id") % 2 == 1), ref)
    rewritten = docs.select(F.translate("text", "aeiou", "xyzwv").alias("text"))
    cross = textops.token_distribution_against(rewritten, ref)
    psi_same = validation.psi_drift(ref, same, group_col="corpus").first()["psi"]
    psi_cross = validation.psi_drift(ref, cross, group_col="corpus").first()["psi"]
    assert psi_same < 0.25 < 1.0 < psi_cross, (psi_same, psi_cross)


# ---------------------------------------------------------------------------
# Broadcast-Bloom decontamination (llm/bloom.py)
# ---------------------------------------------------------------------------


def _bloom_corpora(spark):
    probe = spark.createDataFrame(
        [
            (100, "the secret eval answer is forty two exactly"),
            (101, "unrelated benchmark prompt about alpine marmots today"),
        ],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            # contains probe 100's 5-gram "secret eval answer is forty"
            (1, "we know the secret eval answer is forty two said the doc"),
            # no 5-gram overlap with any probe doc
            (2, "completely different text about gardening tools and winter soil"),
            # too short for a 5-gram: must be absent from the output
            (3, "tiny doc"),
        ],
        ["doc_id", "text"],
    )
    return corpus, probe


def test_bloom_flags_planted_leak_and_skips_clean_doc(spark):
    from simple_pos_kafka_pyspark_airflow_spark.llm import bloom

    corpus, probe = _bloom_corpora(spark)
    rows = {
        r["doc_id"]: r
        for r in bloom.bloom_decontaminate(corpus, probe, m_bits=1 << 20).collect()
    }
    assert set(rows) == {1, 2}, "sub-n-token docs must not appear"
    assert rows[1]["bloom_hit"] == 1 and rows[1]["n_bloom_grams"] >= 1
    assert rows[2]["bloom_hit"] == 0 and rows[2]["n_bloom_grams"] == 0
    assert rows[2]["n_grams"] > 0


def test_bloom_no_false_negatives_probing_probe_against_itself(spark):
    """The Bloom guarantee: every probe document's every gram must test
    positive against the probe's own bitmap — exactly, not statistically."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import bloom

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    flags = bloom.bloom_decontaminate(docs, docs, m_bits=1 << 22).collect()
    assert len(flags) > 0
    for r in flags:
        assert r["bloom_hit"] == 1 and r["n_bloom_grams"] == r["n_grams"], r


def test_bloom_empty_probe_flags_nothing(spark):
    from simple_pos_kafka_pyspark_airflow_spark.llm import bloom

    corpus, probe = _bloom_corpora(spark)
    empty = probe.where(F.lit(False))
    rows = bloom.bloom_decontaminate(corpus, empty, m_bits=1 << 20).collect()
    assert {r["doc_id"] for r in rows} == {1, 2}
    assert all(r["bloom_hit"] == 0 and r["n_bloom_grams"] == 0 for r in rows)


def test_bloom_small_bitmap_and_single_hash_still_sound(spark):
    """m_bits below the packing chunk size and k=1 exercise the chunk
    arithmetic edge; soundness (no false negatives) must hold even when a
    tiny saturated bitmap makes false positives likely."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import bloom

    corpus, probe = _bloom_corpora(spark)
    rows = {
        r["doc_id"]: r
        for r in bloom.bloom_decontaminate(
            corpus, probe, m_bits=1 << 8, n_hashes=1
        ).collect()
    }
    assert rows[1]["bloom_hit"] == 1  # the leak can never be missed


def test_bloom_bitmap_rejects_bad_params(spark):
    from simple_pos_kafka_pyspark_airflow_spark.llm import bloom

    corpus, probe = _bloom_corpora(spark)
    with pytest.raises(ValueError, match="m_bits"):
        bloom.bloom_bitmap(probe, m_bits=12)
    with pytest.raises(ValueError, match="n_hashes"):
        bloom.bloom_bitmap(probe, n_hashes=0)
    import numpy as np

    with pytest.raises(ValueError, match="bitmap"):
        bloom.bloom_flag(corpus, np.zeros(0, dtype=np.uint8))


# ---------------------------------------------------------------------------
# Batched IVF retrieval (llm/simsearch.cosine_topk_ivf_batch)
# ---------------------------------------------------------------------------


def _embed_queries(spark, n=4):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = (
        e.orderBy("vec_id")
        .limit(n)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    return e, qs


def _reference_cosine_topk_ivf(df, query_vec, k=10, n_cells=16, nprobe=4, n_assign=1):
    """Independent single-query IVF top-k, the reference the batched form
    is pinned against: driver-side cell ranking, a literal-array JVM
    cosine over the probed cells, ``orderBy/limit`` top-k."""
    import numpy as np

    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch

    base = df.select("vec_id", "embedding")
    centroids = simsearch.ivf_centroids(base, n_cells)
    c = np.array(centroids, dtype="float64")
    c_hat = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    q = np.array(query_vec, dtype="float64")
    q_hat = q / max(float(np.linalg.norm(q)), 1e-12)
    probe = [int(p) for p in np.argsort(-(c_hat @ q_hat))[:nprobe]]
    pruned = simsearch.ivf_assign(base, centroids, n_assign=n_assign).where(
        F.col("cell").isin(probe)
    )
    if n_assign > 1:
        pruned = pruned.dropDuplicates(["vec_id"])
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = pruned.select(
        "vec_id", F.round(simsearch.cosine(F.col("embedding"), qcol), 6).alias("score")
    )
    return scored.orderBy(F.col("score").desc(), F.col("vec_id")).limit(k)


def test_ivf_batch_matches_single_query_form(spark):
    """The batched probe must return exactly what n independent
    single-query probes (the test-local reference) return (same
    quantizer params ⇒ same cells ⇒ same candidates ⇒ same
    rounded-score/id-tiebreak top-k); the library's single-query form,
    a one-query batch, must equal the reference too."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch

    e, qs = _embed_queries(spark, n=3)
    batch = {
        (r["query_id"], r["rn"]): r["vec_id"]
        for r in simsearch.cosine_topk_ivf_batch(
            e, qs, k=5, n_cells=8, nprobe=3
        ).collect()
    }
    for q in qs.collect():
        single = _reference_cosine_topk_ivf(
            e, list(q["query_vec"]), k=5, n_cells=8, nprobe=3
        ).collect()
        for rn, row in enumerate(single, start=1):
            assert batch[(q["query_id"], rn)] == row["vec_id"]
        lib = simsearch.cosine_topk_ivf(e, list(q["query_vec"]), k=5, n_cells=8, nprobe=3)
        assert lib.collect() == single


def test_ivf_batch_full_probe_equals_exact_batch(spark):
    """nprobe = n_cells prunes nothing: the IVF batch must equal the
    exact batched top-k row-for-row — the brute-force degeneration that
    pins scoring and tiebreaks independently of the index."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch

    e, qs = _embed_queries(spark, n=3)
    ivf = simsearch.cosine_topk_ivf_batch(e, qs, k=5, n_cells=4, nprobe=4)
    exact = simsearch.cosine_topk_batch(e, qs, k=5)
    assert sorted(map(tuple, ivf.collect())) == sorted(map(tuple, exact.collect()))


def test_ivf_batch_empty_queries_yields_empty_frame(spark):
    """An empty query batch or an empty corpus (no quantizer) yields an
    empty frame with the usual columns, from both IVF forms."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch

    e, qs = _embed_queries(spark)
    out = simsearch.cosine_topk_ivf_batch(e, qs.where(F.lit(False)), k=5)
    assert out.columns == ["query_id", "vec_id", "score", "rn"]
    assert out.count() == 0

    empty = e.where(F.lit(False))
    out = simsearch.cosine_topk_ivf_batch(empty, qs, k=5)
    assert out.columns == ["query_id", "vec_id", "score", "rn"]
    assert out.count() == 0
    q = list(qs.first()["query_vec"])
    single = simsearch.cosine_topk_ivf(empty, q, k=5)
    assert single.columns == ["vec_id", "score"]
    assert single.count() == 0


def test_shard_export_writes_one_file_per_shard(spark, tmp_path):
    """The repartition('shard') before partitionBy is the small-files
    guard: each shard directory must contain exactly ONE parquet part
    (without it, every writer task emits a part per shard it sees —
    n_tasks × n_shards files at scale)."""
    import glob
    import os

    from simple_pos_kafka_pyspark_airflow_spark.llm import textops

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n_shards = 8
    shard = F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(n_shards)).cast("int")
    docs = d.select("doc_id", textops.token_count(F.col("text")).alias("n_tokens"),
                    shard.alias("shard"))
    path = str(tmp_path / "shards")
    docs.repartition(n_shards, "shard").write.mode("overwrite").partitionBy(
        "shard"
    ).parquet(path)
    dirs = sorted(glob.glob(os.path.join(path, "shard=*")))
    assert len(dirs) == n_shards, "multiplicative hash must populate every shard"
    for sd in dirs:
        parts = glob.glob(os.path.join(sd, "*.parquet"))
        assert len(parts) == 1, f"{sd} has {len(parts)} files"
    # round-trip completeness: no doc lost or duplicated by the write
    assert spark.read.parquet(path).count() == d.count()


def test_bloom_stats_reports_fill_and_fp(spark):
    """The sizing audit must reflect the real bitmap: fill grows with the
    probe gram count, and the implied fp rate is fill^k."""
    import numpy as np

    from simple_pos_kafka_pyspark_airflow_spark.llm import bloom

    _, probe = _bloom_corpora(spark)
    bm = bloom.bloom_bitmap(probe, m_bits=1 << 16, n_hashes=4)
    s = bloom.bloom_stats(bm, n_hashes=4)
    assert s["m_bits"] == 1 << 16
    # 2 probe docs * <=5 grams * 4 hashes: a handful of bits, low fill
    assert 0 < s["set_bits"] <= 40
    assert s["fp_per_gram"] == s["fill"] ** 4 < 1e-8


def test_lsh_tune_recovers_library_defaults_and_honors_recall():
    from simple_pos_kafka_pyspark_airflow_spark.llm.dedup import (
        lsh_candidate_probability,
        lsh_tune,
    )

    assert lsh_tune(0.8, 64) == (16, 4)
    for t in (0.3, 0.5, 0.7, 0.8, 0.9):
        b, r = lsh_tune(t, 64)
        assert b * r == 64
        assert lsh_candidate_probability(t, b, r) >= 0.95, (t, b, r)
    # steeper thresholds want longer bands (fewer, wider ORs)
    assert lsh_tune(0.9, 64)[1] >= lsh_tune(0.5, 64)[1]
    # an undersized signature that can't meet the floor still returns the
    # best-recall factorization instead of crashing
    b, r = lsh_tune(0.95, 2)
    assert b * r == 2
    with pytest.raises(ValueError):
        lsh_tune(0.0)
    with pytest.raises(ValueError):
        lsh_candidate_probability(1.5, 16, 4)


def test_group_overlap_minhash_tracks_planted_overlap(spark):
    """Three synthetic sources with engineered overlap: identical sources
    estimate ≈ 1, disjoint ≈ 0, half-overlapping in between — the
    estimator must order them correctly and hit the extremes exactly
    (identical sets have identical signatures; disjoint sets agree only
    by hash collision)."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import dedup

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = "one two three four five six seven eight nine ten"
    rows = (
        [("s1", a), ("s2", a)]  # identical
        + [("s3", b)]  # disjoint from s1/s2
        + [("s4", a + " " + b)]  # superset: overlaps both
    )
    df = spark.createDataFrame(rows, ["source", "text"])
    est = {
        (r["group_a"], r["group_b"]): r["est_jaccard"]
        for r in dedup.group_overlap_minhash(df, "source", "text").collect()
    }
    assert est[("s1", "s2")] == 1.0
    assert est[("s1", "s3")] < 0.05
    assert 0.1 < est[("s1", "s4")] < 0.9
    assert est[("s1", "s2")] > est[("s1", "s4")] > est[("s1", "s3")]


def test_group_overlap_minhash_multi_doc_groups_union_semantics(spark):
    """Regression (ADVICE r6 high): the group signature must be the
    MinHash of the group's UNION of per-document shingle sets. Two groups
    holding the same documents — in different row orders, split across
    different doc boundaries — must estimate exactly 1.0, and the result
    must be invariant to input row order (the old code shingled with the
    group as the window id, interleaving tokens across docs)."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import dedup

    d1 = "alpha beta gamma delta epsilon zeta eta theta"
    d2 = "one two three four five six seven eight"
    d3 = "red orange yellow green blue indigo violet ultraviolet"
    rows = [("g1", d1), ("g1", d2), ("g1", d3), ("g2", d3), ("g2", d1), ("g2", d2)]
    df = spark.createDataFrame(rows, ["source", "text"])

    def estimates(frame):
        return {
            (r["group_a"], r["group_b"]): r["est_jaccard"]
            for r in dedup.group_overlap_minhash(frame, "source", "text").collect()
        }

    est = estimates(df)
    # identical union sets -> identical signatures, exactly 1.0 — no
    # cross-document shingles may exist (they would differ between the
    # two groups' doc orders and break the tie)
    assert est[("g1", "g2")] == 1.0
    # row-order invariance: shuffled input gives the identical estimates
    shuffled = spark.createDataFrame(list(reversed(rows)), ["source", "text"])
    assert estimates(shuffled) == est
    # a group containing only a subset must NOT estimate 1.0 against the
    # full group (sanity that 1.0 above is not a degenerate constant)
    est3 = estimates(
        spark.createDataFrame(rows + [("g3", d1)], ["source", "text"])
    )
    assert est3[("g1", "g2")] == 1.0
    assert est3[("g1", "g3")] < 1.0


def test_heavy_hitters_finds_planted_skew_with_tiny_capacity(spark):
    """The lossy sketch regime: vocabulary far above capacity, two
    planted heavy bigrams carrying ~30% of the mass. MG must surface
    both with EXACT counts (the recount stage) while the capacity is a
    small fraction of the vocabulary — and must agree with the exact
    top-k on the heavy head."""
    import random

    from simple_pos_kafka_pyspark_airflow_spark.llm import textops

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(2000)]
    rows = []
    for i in range(400):
        toks = [rng.choice(vocab) for _ in range(30)]
        if i % 3 == 0:
            # plant "hot alpha" and "hot beta" runs
            toks[0:2] = ["hot", "alpha"]
            toks[10:12] = ["hot", "beta"]
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    hh = {
        r["ngram"]: r["n_occ"]
        for r in textops.heavy_hitters_topk(df, k=5, capacity=64).collect()
    }
    exact = {
        r["ngram"]: r["n_occ"]
        for r in textops.ngram_occurrence_counts(df, "text", 2)
        .orderBy(F.desc("n_occ"))
        .limit(5)
        .collect()
    }
    assert "hot alpha" in hh and "hot beta" in hh
    assert hh["hot alpha"] == exact["hot alpha"]  # reported counts are exact
    assert hh["hot beta"] == exact["hot beta"]


def test_heavy_hitters_lossless_when_capacity_exceeds_vocab(spark):
    """capacity >= vocabulary keeps every gram: the sketch path must then
    equal the exact top-k row-for-row, tiebreaks included."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import textops

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    hh = [tuple(r) for r in textops.heavy_hitters_topk(d, k=20, capacity=4096).collect()]
    exact = [
        tuple(r)
        for r in textops.ngram_occurrence_counts(d, "text", 2)
        .orderBy(F.desc("n_occ"), F.asc("ngram"))
        .limit(20)
        .collect()
    ]
    assert hh == exact


def test_recursive_closure_reaches_cluster_min_through_chains(spark):
    """Spark 4 recursive CTE: a 4-member dup chain linked by PREDECESSOR
    edges must label every member with the chain minimum — requiring
    3 recursion steps from the tail, not a one-hop lookup."""
    rows = [(i, "same text for everyone") for i in (7, 1007, 2007, 3007)] + [
        (42, "a unique document")
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).createOrReplaceTempView("_rc_docs")
    out = spark.sql(
        """
        WITH RECURSIVE dup AS (
          SELECT doc_id, md5(text) AS sha FROM _rc_docs
        ), edges AS (
          SELECT a.doc_id AS src, MAX(b.doc_id) AS dst
          FROM dup a JOIN dup b ON a.sha = b.sha AND b.doc_id < a.doc_id
          GROUP BY a.doc_id
        ), reach (src, dst) AS (
          SELECT src, dst FROM edges
          UNION ALL
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ), labels AS (
          SELECT src, MIN(dst) AS cluster FROM reach GROUP BY src
        )
        SELECT d.doc_id, COALESCE(l.cluster, d.doc_id) AS cluster
        FROM dup d LEFT JOIN labels l ON d.doc_id = l.src
        """
    ).collect()
    labels = {r["doc_id"]: r["cluster"] for r in out}
    assert labels == {7: 7, 1007: 7, 2007: 7, 3007: 7, 42: 42}


def test_minhash_defaults_agree_with_lsh_tune():
    """The pipeline default (16 bands x 4 rows at threshold 0.8, k=64)
    must be exactly what the s-curve tuner derives — if either side is
    retuned, this forces the other to follow (or the divergence to be
    justified here)."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.dedup import lsh_tune
    import inspect

    from simple_pos_kafka_pyspark_airflow_spark.llm.dedup import near_dup_pairs_minhash

    sig = inspect.signature(near_dup_pairs_minhash)
    k = sig.parameters["num_hashes"].default
    bands = sig.parameters["bands"].default
    thr = sig.parameters["jaccard_threshold"].default
    tuned_bands, tuned_rows = lsh_tune(thr, k)
    assert (bands, k // bands) == (tuned_bands, tuned_rows)


def test_pack_docs_contiguous_fill_and_overflow_bound(spark):
    """Planted lengths: contiguous fill in id order within a stream, a
    straddling doc lands in the bin of its START offset (overflow ≤ its
    tail), every doc packed exactly once, capacity<=0 raises."""
    import pytest as _pytest

    from simple_pos_kafka_pyspark_airflow_spark.llm import filtering

    # one stream (n_streams=1): lengths 6,6,6 with capacity 10 ->
    # starts 0,6,12 -> bins 0,0,1
    docs = [(i, " ".join(["w"] * 6)) for i in range(3)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["stream"], r["bin"], r["n_tokens"])
        for r in filtering.pack_docs_contiguous(
            df, capacity=10, n_streams=1
        ).collect()
    }
    assert out == {0: (0, 0, 6), 1: (0, 0, 6), 2: (0, 1, 6)}

    # multi-stream: every doc appears once; per-(stream,bin) token sum
    # never exceeds capacity + (max doc in that bin - 1) tokens of
    # overflow; bins within a stream are dense from 0
    import random

    rnd = random.Random(7)
    docs = [(i, " ".join(["w"] * rnd.randint(1, 40))) for i in range(200)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = filtering.pack_docs_contiguous(df, capacity=64, n_streams=4).collect()
    assert sorted(r["doc_id"] for r in rows) == list(range(200))
    from collections import defaultdict

    bins = defaultdict(list)
    for r in rows:
        bins[(r["stream"], r["bin"])].append(r["n_tokens"])
    for (s, b), toks in bins.items():
        assert sum(toks) <= 64 + max(toks) - 1, ((s, b), toks)
    streams = defaultdict(set)
    for s, b in bins:
        streams[s].add(b)
    for s, bs in streams.items():
        assert bs == set(range(len(bs))), (s, bs)

    with _pytest.raises(ValueError, match="capacity"):
        filtering.pack_docs_contiguous(df, capacity=0)


def test_simhash_pipeline_survives_planted_empty_docs(spark):
    """ADVICE r6 latent, closed: zero-token documents (empty or
    whitespace/punct-free text) must neither crash the simhash pipeline
    nor silently distort the planted-pair contract form. simhash_df
    drops them (no token rows survive the explode+where), so the
    q_dedup_simhash guard — filtering trim(text) <> '' on BOTH the
    Spark side and the oracle — keeps the one-row-per-doc invariant."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import dedup

    rows = [
        (1, "alpha beta gamma delta"),
        (2, ""),            # empty
        (3, "   \t  "),     # whitespace-only
        (4, "alpha beta gamma delta"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # zero-token docs vanish from the signature table
    sigs = {r["_id"] for r in dedup.simhash_df(df, "text", "doc_id").collect()}
    assert sigs == {1, 4}
    # the planted-pair form (what q_dedup_simhash does): union an
    # id-shifted copy, restrict to planted pairs — exactly one row per
    # NON-EMPTY doc, none for the empty ones, hamming 0 throughout
    guarded = df.where("trim(text) <> ''")
    planted = guarded.unionByName(
        guarded.withColumn("doc_id", guarded.doc_id + 1_000_000)
    )
    pairs = dedup.near_dup_pairs_simhash(planted, "text", "doc_id", max_hamming=3)
    mine = pairs.where("id_b = id_a + 1000000").collect()
    assert sorted(r["id_a"] for r in mine) == [1, 4]
    assert all(r["hamming"] == 0 for r in mine)


def test_bm25_ranks_term_dense_doc_higher(spark):
    """A doc saturated with the query terms outscores one with a single
    hit; docs with no hits don't appear; idf stays positive even for a
    term present in every doc (the +1 smoothing)."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.textops import bm25_scores

    rows = [
        (1, "spark query spark query spark table"),
        (2, "spark is mentioned once in this much longer filler document body"),
        (3, "nothing relevant here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in bm25_scores(df, ("spark", "query", "table")).collect()}
    assert set(got) == {1, 2}
    assert got[1]["n_terms"] == 3 and got[2]["n_terms"] == 1
    assert got[1]["score"] > got[2]["score"] > 0.0


def test_token_entropy_uniform_beats_skewed(spark):
    """Uniform unigram distribution maximizes entropy (= ln V); a
    one-token source scores exactly 0; TTR is types/tokens."""
    import math

    from simple_pos_kafka_pyspark_airflow_spark.llm.textops import token_entropy

    rows = [
        ("uni", "a b c d"),
        ("skew", "x x x x x x x y"),
        ("const", "z z z z"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {r["source"]: r for r in token_entropy(df).collect()}
    assert abs(got["uni"]["entropy"] - round(math.log(4), 4)) < 1e-9
    assert got["const"]["entropy"] == 0.0
    assert 0.0 < got["skew"]["entropy"] < got["uni"]["entropy"]
    assert got["uni"]["ttr"] == 1.0 and got["const"]["ttr"] == 0.25
    assert got["skew"]["n_tokens"] == 8 and got["skew"]["n_types"] == 2


def test_editdist_banding_complete_across_band_boundary(spark):
    """Pairs straddling a band boundary are still found (each doc emits
    {band, band+1}), exact distances are returned, and pairs past
    max_dist are excluded."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.dedup import near_dup_pairs_editdist

    # band_width=8: len 7 -> band 0, len 9 -> band 1 (boundary pair).
    rows = [
        (1, "aaaaaaa"),        # len 7
        (2, "aaaaaaabb"),      # len 9, dist 2 from doc 1
        (3, "aaaaaaabbcc"),    # len 11, dist 2 from doc 2, 4 from doc 1
        (4, "zzzzzzzzzzzzzzzzzzzzzzzzzzzz"),  # far from everything
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in near_dup_pairs_editdist(
            df, "text", "doc_id", max_dist=4, band_width=8
        ).collect()
    }
    assert got == {(1, 2): 2, (2, 3): 2, (1, 3): 4}


def test_editdist_rejects_band_width_not_covering_dist(spark):
    import pytest as _pytest

    from simple_pos_kafka_pyspark_airflow_spark.llm.dedup import near_dup_pairs_editdist

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        near_dup_pairs_editdist(df, "text", "doc_id", max_dist=8, band_width=8)


def test_phrase_search_counts_repeats_and_overlaps(spark):
    """Multiple occurrences count per doc; overlapping matches of a
    repeated-term phrase each count; docs without the full phrase (terms
    present but not adjacent/in order) are excluded."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.textops import phrase_search

    rows = [
        (1, "x slow hash batch y slow hash batch"),  # two occurrences
        (2, "slow batch hash"),  # terms present, wrong order -> no match
        (3, "SLOW Hash BATCH"),  # case-insensitive, starts at pos 1
        (4, "nothing here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in phrase_search(df, ("slow", "hash", "batch")).collect()
    }
    assert got == {1: (2, 2), 3: (1, 1)}

    # repeated-term phrase: 'a a' over 'a a a' matches at starts 1 and 2
    df2 = spark.createDataFrame([(9, "a a a")], "doc_id long, text string")
    got2 = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in phrase_search(df2, ("a", "a")).collect()
    }
    assert got2 == {9: (2, 1)}

    # ADVICE r7: positions index the shared tokens() stream, so runs of
    # spaces/tabs/newlines (and leading whitespace) neither split the
    # phrase nor shift first_pos — adjacency is TOKEN adjacency
    df3 = spark.createDataFrame(
        [
            (11, "  lead slow \t hash\nbatch"),  # tokens: lead slow hash batch
            (12, "slow  hash   batch"),  # double/triple spaces, still adjacent
        ],
        "doc_id long, text string",
    )
    got3 = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in phrase_search(df3, ("slow", "hash", "batch")).collect()
    }
    assert got3 == {11: (1, 2), 12: (1, 1)}


def test_stratified_sample_exact_k_and_order_invariance(spark):
    """Exactly min(k, stratum size) rows per stratum, ranks 1..k dense,
    and the sampled id set is invariant to input row order (no RNG)."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.filtering import stratified_sample

    rows = [(i, "big" if i < 40 else "small") for i in range(46)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_sample(df, "source", "doc_id", k=5).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append((r["sample_rank"], r["doc_id"]))
    assert sorted(r for r, _ in by_src["big"]) == [1, 2, 3, 4, 5]
    assert sorted(r for r, _ in by_src["small"]) == [1, 2, 3, 4, 5]  # 6 rows -> 5 kept
    shuffled = spark.createDataFrame(list(reversed(rows)), "doc_id long, source string")
    out2 = stratified_sample(shuffled, "source", "doc_id", k=5).collect()
    assert {(r["source"], r["doc_id"], r["sample_rank"]) for r in out2} == {
        (r["source"], r["doc_id"], r["sample_rank"]) for r in out
    }


def test_jaccard_pairs_prefix_lossless_vs_brute_force(spark):
    """Prefix filtering is candidate-complete: output equals the python
    brute-force all-pairs set over synthetic docs engineered to defeat
    length-band blocking (near-identical pairs with very different
    positions in the corpus) and to sit exactly ON the threshold."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.dedup import jaccard_pairs_prefix

    def sh(words):
        toks = words.split()
        if len(toks) < 3:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        (0, base),
        (1, base + " extra"),                      # high-overlap pair with 0
        (2, "one two three four five six"),
        (3, "seven eight nine ten eleven twelve"),
        (4, base),                                  # exact dup of 0 (J=1)
        (5, "alpha beta gamma delta epsilon zeta"),  # partial overlap
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs_prefix(df, "text", "doc_id", n=3, threshold=0.5).collect()
    }
    expect = {}
    for i, (ia, ta) in enumerate(docs):
        for ib, tb in docs[i + 1 :]:
            a, b = sh(ta.lower()), sh(tb.lower())
            j = len(a & b) / len(a | b)
            if 2 * len(a & b) >= len(a | b):  # same integer cut as the operator
                expect[(ia, ib)] = j
    assert got == expect
    assert (0, 4) in got and got[(0, 4)] == 1.0


def test_collocation_lift_ranks_planted_pair_first(spark):
    """A pair that ALWAYS co-occurs ranks above pairs of independent
    words; lift equals the exact rational T·n/(c1·c2); support floor
    drops below-min_count bigrams."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.textops import collocation_lift

    # 'hong kong' always adjacent (6×); filler words well above the floor
    docs = [(i, "hong kong is a city and a port in a region") for i in range(6)]
    docs += [(100 + i, "a city and a port and a region is big") for i in range(6)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = collocation_lift(df, "text", min_count=5, k=5).collect()
    top = rows[0]
    assert top["bigram"] == "hong kong" and top["n"] == 6
    # exact rational: T tokens total, c(hong)=c(kong)=6
    total = sum(len(t.split()) for _, t in docs)
    assert top["lift"] == total * 6 / (6 * 6)
    assert all(r["n"] >= 5 for r in rows)


def test_weighted_sample_wor_replays_in_pure_python(spark):
    """Independent oracle beyond DuckDB: the md5 min-stable sample must be
    replayable with hashlib — same unit digests, same minima, same
    top-k order. Also pins the weight clamp to [1, max_weight]."""
    import hashlib

    from simple_pos_kafka_pyspark_airflow_spark.llm.filtering import weighted_sample_wor

    rows = [(i, (i * 37) % 9 - 1) for i in range(200)]  # weights -1..7 (clamp hits both ends)
    df = spark.createDataFrame(rows, "id long, w int")
    got = [
        (r["id"], r["weight"], r["sample_rank"])
        for r in weighted_sample_wor(df, "id", F.col("w"), k=10, max_weight=5)
        .orderBy("sample_rank")
        .collect()
    ]
    expect = []
    for i, w in rows:
        w = max(1, min(5, w))
        key = min(
            hashlib.md5(f"{i}#{rep}".encode()).hexdigest() for rep in range(1, w + 1)
        )
        expect.append((key, i, w))
    expect.sort()
    expect = [(i, w, rank + 1) for rank, (_, i, w) in enumerate(expect[:10])]
    assert got == expect


def test_repeat_epoch_copies_group_totals_track_rates(spark):
    """A group at rate r must contribute within one doc of r × n_docs
    copies (floor + deterministic fractional slice), and the largest
    group runs at exactly 1.0x."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.filtering import (
        repeat_epoch_copies,
        repeat_rates_fixedpoint,
    )

    rows = [(i, "big" if i < 800 else "small", 100) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    rates = {
        r["source"]: r["rate_milli"]
        for r in repeat_rates_fixedpoint(df, "source", "n_chars").collect()
    }
    assert rates["big"] == 1000  # w_max group: exactly 1.0x
    assert rates["small"] == 3000  # 4x parity boost clamped to the 3x cap
    out = repeat_epoch_copies(df, "source", "n_chars", "doc_id")
    totals = {
        r["source"]: r["total"]
        for r in out.groupBy("source").agg(F.sum("n_copies").alias("total")).collect()
    }
    for src, n_docs in (("big", 800), ("small", 200)):
        want = rates[src] * n_docs / 1000
        assert abs(totals[src] - want) <= max(1, n_docs * 0.05)  # hash slice ≈ frac rate
    assert totals["small"] == 600  # cap is integral -> exact


def test_embed_diversity_onepass_matches_numpy_brute_force(spark):
    """The moment-identity diversity must match the O(n²) numpy mean
    pairwise cosine within the floor-grid error bound O(d/grid), and a
    group of identical vectors must report mean_pair_cos ≈ 1."""
    import numpy as np

    from simple_pos_kafka_pyspark_airflow_spark.llm.simsearch import (
        embed_diversity_onepass,
    )

    rng = np.random.RandomState(3)
    groups = {"a": rng.randn(20, 64), "b": rng.randn(3, 64)}
    groups["c"] = np.tile(rng.randn(1, 64), (5, 1))  # identical vectors
    rows = [
        (g, [float(x) for x in vec])
        for g, mat in groups.items()
        for vec in mat
    ]
    df = spark.createDataFrame(rows, "label string, embedding array<double>")
    got = {
        r["label"]: (r["n"], r["mean_pair_cos"])
        for r in embed_diversity_onepass(df, "label", "embedding", dim=64).collect()
    }
    for g, mat in groups.items():
        v = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        sims = v @ v.T
        n = len(mat)
        brute = (sims.sum() - n) / (n * (n - 1))
        assert got[g][0] == n
        assert abs(got[g][1] - brute) < 64 / 1e6 + 1e-9, (g, got[g][1], brute)
    assert got["c"][1] > 0.999


def test_embed_diversity_no_int64_wraparound_on_low_diversity_group(spark):
    """ADVICE r7 (medium): the all-bigint moment form silently wrapped
    ‖Σŵ‖² at n ≈ 3000 identical vectors (grid=1e6) — exactly the
    collapsed-scrape case the audit exists to flag, reporting garbage
    diversity. With per-dim squares in double the statistic must stay
    exactly 1.0 for 4000 identical vectors (Σŵ² = 1.6e19 > 2^63)."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.simsearch import (
        embed_diversity_onepass,
    )

    df = spark.createDataFrame(
        [("g", [1.0, 0.0, 0.0, 0.0])] * 4000, "label string, embedding array<double>"
    )
    out = embed_diversity_onepass(df, "label", "embedding", dim=4).collect()[0]
    assert out["n"] == 4000
    assert out["diversity_scaled"] > 0, out  # int64 wrap went negative here
    assert abs(out["mean_pair_cos"] - 1.0) < 1e-9, out


def test_semdedup_prune_drops_higher_id_twin_and_respects_cell_cap(spark):
    """SemDeDup: within-cluster cosine >= threshold drops the HIGHER id
    only; dissimilar vectors all survive; a cell hotter than max_cell is
    excluded from the pair search CONSERVATIVELY (all its points kept,
    never wrongly dropped)."""
    import numpy as np

    from simple_pos_kafka_pyspark_airflow_spark.llm.simsearch import semdedup_prune

    rng = np.random.RandomState(11)
    base = rng.randn(6, 8)
    rows = [(i, [float(x) for x in base[i]]) for i in range(6)]
    rows += [(100 + i, [float(x) for x in base[i]]) for i in range(3)]  # twins of 0..2
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r["kept"]
        for r in semdedup_prune(df, "embedding", "vec_id", n_cells=4, threshold=0.95).collect()
    }
    assert len(got) == 9
    assert all(got[i] == 1 for i in range(6)), got          # originals kept
    assert all(got[100 + i] == 0 for i in range(3)), got    # twins dropped

    # cap binds: every point in one cell (identical vectors), cap below
    # the cell size -> pair search skips the cell, everything survives
    same = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(5)]
    df2 = spark.createDataFrame(same, "vec_id long, embedding array<double>")
    got2 = {
        r["vec_id"]: r["kept"]
        for r in semdedup_prune(df2, "embedding", "vec_id", n_cells=2, max_cell=3).collect()
    }
    assert got2 == {i: 1 for i in range(5)}, got2


def test_gopher_repetition_matches_python_twin(spark):
    """dup-n-gram char fractions must equal the brute-force python twin,
    including the all-unique doc (frac 0), the fully-repetitive doc
    (frac 1.0 at n=2), and the too-short doc (NULL, not 0)."""
    texts = {
        1: "a b c d e",                  # all bigrams unique
        2: "x y x y x y",                # every bigram duplicated
        3: "one",                        # no bigrams at all
        4: "p q r p q s p q",            # mixed
    }
    from simple_pos_kafka_pyspark_airflow_spark.llm.textops import gopher_repetition

    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["dup2_num"], r["dup2_den"], r["dup2_frac"])
        for r in gopher_repetition(df, ns=(2,)).collect()
    }
    from collections import Counter

    for i, t in texts.items():
        toks = t.split()
        grams = [" ".join(toks[j : j + 2]) for j in range(len(toks) - 1)]
        c = Counter(grams)
        den = sum(n * len(g) for g, n in c.items())
        num = sum(n * len(g) for g, n in c.items() if n >= 2)
        want_frac = num / den if den else None
        assert got[i][0] == num and got[i][1] == den, (i, got[i])
        if want_frac is None:
            assert got[i][2] is None, (i, got[i])
        else:
            assert abs(got[i][2] - want_frac) < 1e-12, (i, got[i])
    assert got[2][2] == 1.0 and got[1][2] == 0.0


def test_asof_nearest_direction_and_ties(spark):
    """Nearest as-of: picks backward or forward by true distance, breaks
    exact-distance ties BACKWARD, and handles keys with matches on only
    one side (or none)."""
    from datetime import datetime as dt

    from simple_pos_kafka_pyspark_airflow_spark.operators.joins import asof_join_nearest

    T = lambda s: dt.fromisoformat(f"2026-01-01 {s}")  # noqa: E731
    left = spark.createDataFrame(
        [
            (1, 10, T("10:00:00")),  # clicks at 09:59 and 10:02 -> backward (60s < 120s)
            (2, 10, T("10:03:00")),  # -> forward 10:02 (60s) over 09:59 (240s)
            (3, 10, T("10:00:30")),  # EXACT tie: 09:59+90s vs 10:02-90s -> backward
            (4, 20, T("10:00:00")),  # only a later click -> forward
            (5, 30, T("10:00:00")),  # no clicks at all -> NULL
        ],
        "err_id long, u long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (10, T("09:59:00")),
            (10, T("10:02:00")),
            (20, T("11:00:00")),
        ],
        "u long, cts timestamp",
    )
    got = {
        r["err_id"]: r["cts"]
        for r in asof_join_nearest(left, right, "u", "u", "ts", "cts", ["cts"]).collect()
    }
    assert got[1] == T("09:59:00")
    assert got[2] == T("10:02:00")
    assert got[3] == T("09:59:00")  # tie -> backward
    assert got[4] == T("11:00:00")
    assert got[5] is None


def test_rolling_distinct_matches_python_twin(spark):
    """Rolling 7-day distinct users: windows that share users must not
    double-count, users active on multiple days count once per window,
    and only days WITH data emit rows."""
    from datetime import datetime as dt

    rows = [  # (user, day-of-jan)
        (1, 1), (2, 1), (1, 2), (3, 5), (1, 9), (1, 9), (4, 20),
    ]
    from simple_pos_kafka_pyspark_airflow_spark.operators.windows import rolling_distinct

    df = spark.createDataFrame(
        [(u, dt(2026, 1, d)) for u, d in rows], "user_id long, ts timestamp"
    )
    got = {r["day"].day: r["n_distinct"] for r in rolling_distinct(df, "ts", "user_id", 7).collect()}
    days_present = sorted({d for _, d in rows})
    want = {}
    for wd in days_present:
        want[wd] = len({u for u, d in rows if wd - 6 <= d <= wd})
    assert got == want, (got, want)
    # spot: day 5 window covers days 1,2,5 -> users {1,2,3}; day 9 covers 5,9 -> {1,3}
    assert got[5] == 3 and got[9] == 2 and got[20] == 1


def test_dsir_importance_hashed_features_separate_target(spark):
    """The hashed-feature DSIR form (the paper's production design — the
    model table is bounded at n_buckets rows at any corpus size) must
    still rank drifted target docs above proposal docs, and every doc
    gets a score."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.filtering import dsir_importance

    rows = []
    for i in range(40):
        # target half speaks a shifted vocabulary — manufactured drift
        if i % 2 == 0:
            rows.append((i, "zebra quartz vortex zebra quartz nymph vortex"))
        else:
            rows.append((i, "common words appear here again and again common"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dsir_importance(
        df, F.col("doc_id") % 2 == 0, "text", "doc_id", n_buckets=64
    ).collect()
    assert len(out) == 40
    tgt = [r["score_e6"] for r in out if r["is_target"] == 1]
    prop = [r["score_e6"] for r in out if r["is_target"] == 0]
    assert min(tgt) > max(prop), (min(tgt), max(prop))


def test_ks_drift_matches_python_twin(spark):
    """The cross-multiplied KS statistic must equal the brute-force
    two-sample ECDF sup-difference — including ties across samples and
    an identical-distribution group scoring 0."""
    rows = [  # (group, value, is_ref)
        *[("g1", v, 1) for v in (1, 2, 2, 3, 9)],
        *[("g1", v, 0) for v in (2, 7, 8, 9)],
        *[("g2", v, 1) for v in (5, 5, 6)],
        *[("g2", v, 0) for v in (5, 5, 6)],  # identical -> KS 0
    ]
    from simple_pos_kafka_pyspark_airflow_spark.operators.validation import ks_drift

    df = spark.createDataFrame(rows, "g string, v long, r int")
    got = {
        r["g"]: (r["ks_num"], r["ks_den"], r["ks"])
        for r in ks_drift(df, "g", F.col("v"), F.col("r") == 1).collect()
    }
    for g in ("g1", "g2"):
        ref = sorted(v for gg, v, r in rows if gg == g and r == 1)
        live = sorted(v for gg, v, r in rows if gg == g and r == 0)
        xs = sorted(set(ref + live))
        na, nb = len(ref), len(live)
        num = max(
            abs(sum(v <= x for v in ref) * nb - sum(v <= x for v in live) * na)
            for x in xs
        )
        assert got[g][0] == num and got[g][1] == na * nb, (g, got[g])
        assert abs(got[g][2] - num / (na * nb)) < 1e-15
    assert got["g2"][0] == 0


def test_grouped_skew_kurt_matches_numpy(spark):
    """Exact-moment skewness/kurtosis must match numpy's population
    moments (m3/m2^1.5, m4/m2^2 - 3) to float precision, and a
    zero-variance group yields NULLs."""
    import numpy as np

    from simple_pos_kafka_pyspark_airflow_spark.operators.aggregates import (
        grouped_skew_kurt,
    )

    rng = np.random.RandomState(5)
    a = rng.randint(-50, 500, size=200)
    b = np.concatenate([rng.randint(0, 10, size=150), np.array([900] * 5)])  # heavy tail
    rows = [("a", int(v)) for v in a] + [("b", int(v)) for v in b] + [("c", 7)] * 4
    df = spark.createDataFrame(rows, "g string, x long")
    got = {
        r["g"]: (r["skew"], r["kurt"])
        for r in grouped_skew_kurt(df, "g", F.col("x")).collect()
    }
    for g, vals in (("a", a), ("b", b)):
        m = vals.mean()
        m2 = ((vals - m) ** 2).mean()
        m3 = ((vals - m) ** 3).mean()
        m4 = ((vals - m) ** 4).mean()
        assert abs(got[g][0] - m3 / m2**1.5) < 1e-9, (g, got[g])
        assert abs(got[g][1] - (m4 / m2**2 - 3)) < 1e-9, (g, got[g])
    assert got["c"] == (None, None)


def test_grouped_skew_kurt_no_int64_wrap_at_envelope_scale(spark):
    """r8 advice regression: B = n·S2 − S² computed in int64 wraps at
    n ≈ 3e6/group inside the documented |x| ≤ 1e3 lattice (n²·x² binds
    before the n·x⁴ sum bound) — B must be the fixed double tree. 6M
    rows of the exact ±1000 cycle: symmetric, so skew is EXACTLY 0.0,
    and kurt matches the identical left-associated Python-float tree
    over the closed-form exact sums."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.aggregates import (
        grouped_skew_kurt,
    )

    reps, half = 3000, 1000
    n = reps * (2 * half + 1)  # 6,003,000 rows, each of -1000..1000 reps times
    df = spark.range(n).select(
        F.lit("g").alias("g"), (F.col("id") % (2 * half + 1) - half).alias("x")
    )
    # closed-form exact int sums (odd powers vanish by symmetry)
    s2 = reps * 2 * sum(k * k for k in range(1, half + 1))
    s4 = reps * 2 * sum(k**4 for k in range(1, half + 1))
    assert n * s2 > 2**63  # the old int64 B would have wrapped here
    assert n * (half**4) < 2**63  # ... while the SUMS stay inside the envelope
    row = grouped_skew_kurt(df, "g", F.col("x")).collect()[0]
    assert (row["sum_x"], row["sum_x2"], row["sum_x3"], row["sum_x4"]) == (0, s2, 0, s4)
    nd, s2d, s4d = float(n), float(s2), float(s4)
    b = nd * s2d - 0.0 * 0.0
    expect_kurt = (nd * nd * nd * s4d - 4.0 * nd * nd * 0.0 * 0.0 + 6.0 * nd * 0.0 * 0.0 * s2d - 3.0 * 0.0) / (b * b) - 3.0
    assert row["skew"] == 0.0
    assert row["kurt"] == expect_kurt


def test_exact_substring_spans_finds_offset_spans_and_merges(spark):
    """ExactSubstr (Lee et al. 2021): a >=L-token span shared at
    DIFFERENT offsets in two docs must be found exactly (start/len), and
    overlapping duplicated L-grams must merge to one maximal span —
    the cases the fixed-window approximations cannot express."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.dedup import (
        exact_substring_spans,
    )

    shared = " ".join(f"s{i}" for i in range(7))  # 7-token shared block
    rows = [
        (1, "a0 a1 a2 " + shared + " a3 a4"),        # shared at pos 3..9
        (2, shared + " b0 b1 b2 b3 b4 b5"),          # shared at pos 0..6
        (3, "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9"),        # clean
        (4, "d0 d1"),                                 # too short for any gram
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in exact_substring_spans(df, min_len=5).collect()
    }
    # every 5-gram inside the 7-token block is duplicated; intervals
    # [3..7],[4..8],[5..9] (doc 1) merge to one maximal span of len 7
    assert got == {(1, 3, 7), (2, 0, 7)}, got


def test_exact_substring_counts_total_occurrences_like_suffix_array(spark):
    """min_count counts TOTAL occurrences (the paper's suffix-array
    semantics), so a span repeated twice WITHIN one doc is duplicated
    even if no other document shares it."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.dedup import (
        exact_substring_spans,
    )

    block = " ".join(f"r{i}" for i in range(5))
    df = spark.createDataFrame(
        [(1, block + " x0 x1 " + block), (2, "y0 y1 y2 y3 y4 y5 y6")],
        "doc_id int, text string",
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in exact_substring_spans(df, min_len=5).collect()
    }
    assert got == {(1, 0, 5), (1, 7, 5)}, got


def test_exact_substring_dedup_excises_spans_preserving_order(spark):
    """The removal step: duplicated-span tokens excised, survivors
    rejoined in order; untouched and too-short docs pass through with
    n_removed = 0."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.dedup import (
        exact_substring_dedup,
    )

    shared = " ".join(f"s{i}" for i in range(6))
    df = spark.createDataFrame(
        [
            (1, "a0 " + shared + " a1 a2"),
            (2, shared + " b0"),
            (3, "c0 c1 c2"),
        ],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: (r["text_clean"], r["n_removed"])
        for r in exact_substring_dedup(df, min_len=6).collect()
    }
    assert got[1] == ("a0 a1 a2", 6), got
    assert got[2] == ("b0", 6), got
    assert got[3] == ("c0 c1 c2", 0), got


def test_scoped_caches_frees_pipeline_blocks(spark):
    """r8-verdict task: after a pipeline (persist-heavy SemDeDup + the
    minhash pair search) materializes inside scoped_caches, NO cached
    RDDs introduced by the block may remain — and caches that existed
    before the block must survive it."""
    from simple_pos_kafka_pyspark_airflow_spark.cacheutil import (
        persistent_rdd_ids,
        scoped_caches,
    )
    from simple_pos_kafka_pyspark_airflow_spark.llm.dedup import (
        near_dup_pairs_minhash,
    )
    from simple_pos_kafka_pyspark_airflow_spark.llm.simsearch import semdedup_prune

    outside = spark.createDataFrame([(1, "keepme")], "id long, t string").persist()
    outside.count()
    baseline = persistent_rdd_ids(spark)
    assert baseline, "the outside cache must be visible"
    # ids other tests persisted may be released asynchronously while this
    # test runs (blocking=False unpersists elsewhere) — the invariant to
    # pin is "no NEW ids survive the block", never baseline equality

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon w{i} zeta eta") for i in range(12)]
        + [(100, "alpha beta gamma delta epsilon w1 zeta eta")],
        "doc_id long, text string",
    )
    vecs = spark.createDataFrame(
        [(i, [float(i % 4), 1.0, float(i % 3)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    with scoped_caches(spark):
        pairs = near_dup_pairs_minhash(docs, "text", "doc_id")
        assert pairs.count() >= 1
        kept = semdedup_prune(vecs, n_cells=4)
        assert kept.count() == 20
        assert persistent_rdd_ids(spark) - baseline, (
            "the pipeline should have persisted something inside the block"
        )
    after = persistent_rdd_ids(spark)
    assert after - baseline == set(), after - baseline
    assert baseline & after, "the pre-existing outside cache must survive"
    outside.unpersist(True)


def test_dedup_clusters_frees_superseded_rounds(spark):
    """The label-propagation loop must not accumulate one cached RDD per
    round: after the result materializes, at most the FINAL round's
    checkpoint (the returned frame's backing blocks) may remain beyond
    the pre-call caches."""
    from simple_pos_kafka_pyspark_airflow_spark.cacheutil import (
        persistent_rdd_ids,
        release_caches,
    )
    from simple_pos_kafka_pyspark_airflow_spark.llm.dedup import dedup_clusters

    before = persistent_rdd_ids(spark)
    # a chain 0-1-2-...-9: diameter 9 forces many propagation rounds
    # (max_driver_edges=0 forces the DISTRIBUTED path this test audits —
    # the small graph would otherwise take the driver union-find)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    out = dedup_clusters(pairs, max_driver_edges=0)
    rows = {r["id_a"] if "id_a" in r else r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert set(rows.values()) == {0}
    leftover = persistent_rdd_ids(spark) - before
    assert len(leftover) <= 1, leftover  # only the final labels checkpoint
    release_caches(spark, leftover)
    assert persistent_rdd_ids(spark) - before == set()


def test_materialize_reliable_mode_needs_a_dir(spark):
    """Without a checkpoint dir the reliable mode must fail LOUDLY at the
    materialize site, not deep inside Spark."""
    import pytest as _pytest

    from simple_pos_kafka_pyspark_airflow_spark.cacheutil import (
        MATERIALIZE_MODE_KEY,
        materialize,
    )

    if spark.sparkContext.getCheckpointDir() is not None:
        _pytest.skip("session already has a checkpoint dir")
    spark.conf.set(MATERIALIZE_MODE_KEY, "reliable")
    try:
        with _pytest.raises(ValueError, match="checkpoint"):
            materialize(spark.range(3))
    finally:
        spark.conf.unset(MATERIALIZE_MODE_KEY)


def test_materialize_reliable_mode_matches_local(spark, sf_dir, tmp_path):
    """r15 cluster-profile switch: ``spark.graft.materialize=reliable``
    must route the engine's checkpoint sites to reliable ``checkpoint()``
    (fault-tolerant files in the checkpoint dir) and produce results
    IDENTICAL to the default localCheckpoint path — exercised through
    the two iterative consumers the switch exists for (pagerank,
    dedup_clusters' distributed loop), the curation ladder's audited
    report, and the contract queries that checkpoint a graph edge set or
    a customer table (q_graph_triangles, q_graph_triangles_oriented,
    q_graph_linkpred, q_seg_rfm), each of which must write a reliable
    checkpoint. A reliable eager checkpoint must compute its frame once:
    recomputing it for the checkpoint-file write would run the observe
    nodes under a curation hub twice (a counting UDF pins it)."""
    from simple_pos_kafka_pyspark_airflow_spark.cacheutil import (
        CHECKPOINT_DIR_KEY,
        MATERIALIZE_MODE_KEY,
        materialize,
    )
    from simple_pos_kafka_pyspark_airflow_spark.llm import curation
    from simple_pos_kafka_pyspark_airflow_spark.llm.dedup import dedup_clusters
    from simple_pos_kafka_pyspark_airflow_spark.operators.graph import pagerank
    from simple_pos_kafka_pyspark_airflow_spark.plans import queries_analytics as qa

    queries = [
        qa.q_graph_triangles, qa.q_graph_triangles_oriented, qa.q_graph_linkpred, qa.q_seg_rfm,
    ]

    def rows(q):
        return sorted(map(tuple, q(spark, sf_dir).collect()), key=repr)

    def n_checkpoints():
        return sum(1 for _ in (tmp_path / "ck").rglob("rdd-*"))

    edges = spark.createDataFrame(
        [(1, 2, 3), (2, 3, 1), (3, 1, 2), (1, 3, 1), (4, 1, 5)],
        "src long, dst long, w long",
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cfg = curation.CurationConfig(
        allowed_langs=("en", "de", "fr", "es", "zh", "und"),
        min_tokens=3,
        per_source_cap=40,
    )
    calls = spark.sparkContext.accumulator(0)

    def counted(x):
        calls.add(1)
        return x

    pr_local = sorted(map(tuple, pagerank(edges, iters=3).collect()))
    cc_local = sorted(map(tuple, dedup_clusters(pairs, max_driver_edges=0).collect()))
    _, report_local = curation.curate_corpus(docs, cfg, counts=True)
    q_local = [rows(q) for q in queries]

    spark.conf.set(MATERIALIZE_MODE_KEY, "reliable")
    spark.conf.set(CHECKPOINT_DIR_KEY, str(tmp_path / "ck"))
    try:
        probe = materialize(spark.range(5))
        # reliable checkpoints live in the checkpoint dir, not the block
        # manager — prove the routing actually happened
        import os

        assert any(os.scandir(tmp_path / "ck")), "no reliable checkpoint files"
        assert probe.count() == 5
        pr_rel = sorted(map(tuple, pagerank(edges, iters=3).collect()))
        cc_rel = sorted(map(tuple, dedup_clusters(pairs, max_driver_edges=0).collect()))
        hub = materialize(spark.range(50).select(F.udf(counted, "long")("id")))
        assert hub.count() == 50 and calls.value == 50
        _, report_rel = curation.curate_corpus(docs, cfg, counts=True)
        q_rel = []
        for q in queries:
            before = n_checkpoints()
            q_rel.append(rows(q))
            assert n_checkpoints() > before, q.__name__
    finally:
        spark.conf.unset(MATERIALIZE_MODE_KEY)
        spark.conf.unset(CHECKPOINT_DIR_KEY)
    assert pr_rel == pr_local
    assert cc_rel == cc_local
    assert report_rel == report_local
    assert q_rel == q_local


def test_funnel_counts_order_matters(spark):
    """A user whose step-2 event precedes step 1 must NOT count for the
    prefix — the funnel is ordered, earliest-completion semantics."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.timeseries import (
        funnel_counts,
    )

    rows = [
        # u1: proper view -> click -> purchase
        (1, "view", "2024-01-01 10:00:00"),
        (1, "click", "2024-01-01 11:00:00"),
        (1, "purchase", "2024-01-01 12:00:00"),
        # u2: click BEFORE view — completes step 0 only
        (2, "click", "2024-01-02 09:00:00"),
        (2, "view", "2024-01-02 10:00:00"),
        # u3: view then click, no purchase
        (3, "view", "2024-01-03 08:00:00"),
        (3, "click", "2024-01-03 09:00:00"),
        # u4: purchase only — no step at all
        (4, "purchase", "2024-01-04 08:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts string").select(
        "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    got = {
        r["step"]: r["n_users"]
        for r in funnel_counts(df, ["view", "click", "purchase"]).collect()
    }
    assert got == {"view": 3, "click": 2, "purchase": 1}, got


def test_cohort_retention_offsets_and_ratio(spark):
    """Cohort day = first-seen day; offsets count distinct active users;
    offset 0 retention is exactly 1.0."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.timeseries import (
        cohort_retention,
    )

    rows = [
        (1, "2024-01-01 10:00:00"), (1, "2024-01-02 10:00:00"),
        (1, "2024-01-02 11:00:00"),  # same day twice — still one pair
        (2, "2024-01-01 09:00:00"),
        (3, "2024-01-02 09:00:00"), (3, "2024-01-04 09:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    got = {
        (r["cohort_day"].day, r["day_offset"]): (r["n_cohort"], r["n_active"], r["retention"])
        for r in cohort_retention(df).collect()
    }
    assert got[(1, 0)] == (2, 2, 1.0)
    assert got[(1, 1)] == (2, 1, 0.5)
    assert got[(2, 0)] == (1, 1, 1.0)
    assert got[(2, 2)] == (1, 1, 1.0)
    assert set(got) == {(1, 0), (1, 1), (2, 0), (2, 2)}


def test_rolling_corr_exact_matches_numpy(spark):
    """Window corr must equal numpy's Pearson r on every trailing slice
    (float tolerance), with NULL on the zero-variance head window."""
    import numpy as np

    from simple_pos_kafka_pyspark_airflow_spark.operators.windows import (
        rolling_corr_exact,
    )

    rng = np.random.RandomState(11)
    x = rng.randint(-100, 100, size=20)
    y = (x * 2 + rng.randint(-30, 30, size=20)).astype(int)
    rows = [(i, int(x[i]), int(y[i])) for i in range(20)]
    df = spark.createDataFrame(rows, "i int, x long, y long")
    got = {
        r["i"]: (r["n"], r["corr"])
        for r in rolling_corr_exact(df, "i", F.col("x"), F.col("y"), 5).collect()
    }
    for i in range(20):
        lo = max(0, i - 4)
        xs, ys = x[lo : i + 1].astype(float), y[lo : i + 1].astype(float)
        n, want = len(xs), None
        if np.std(xs) > 0 and np.std(ys) > 0:
            want = float(np.corrcoef(xs, ys)[0, 1])
        assert got[i][0] == n
        if want is None:
            assert got[i][1] is None
        else:
            assert abs(got[i][1] - want) < 1e-9, (i, got[i][1], want)


def test_bloom_semi_reduce_equals_exact_semi_join(spark):
    """The Bloom runtime filter must never lose a match (no false
    negatives): result row-identical to the exact semi join, including
    keys absent from the build side and negative keys."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.joins import (
        bloom_semi_reduce,
    )

    fact = spark.createDataFrame(
        [(i % 500 - 100, i) for i in range(4000)], "k long, payload long"
    )
    keys = spark.createDataFrame([(v,) for v in (-100, -1, 7, 123, 399, 9999)], "k long")
    got = sorted(
        (r["k"], r["payload"]) for r in bloom_semi_reduce(fact, keys, "k").collect()
    )
    want = sorted(
        (r["k"], r["payload"]) for r in fact.join(keys, "k", "left_semi").collect()
    )
    assert got == want and len(got) > 0


def test_bloom_semi_reduce_rejects_mismatched_key_types(spark):
    """xxhash64 is type-sensitive, so int-vs-bigint keys would produce
    Bloom FALSE NEGATIVES (bits set from one width, probed at another) —
    the operator must fail fast instead of silently dropping matches."""
    import pytest

    from simple_pos_kafka_pyspark_airflow_spark.operators.joins import (
        bloom_semi_reduce,
    )

    fact = spark.createDataFrame([(1, 10), (2, 20)], "k long, payload long")
    keys = spark.createDataFrame([(1,), (2,)], "k int")
    with pytest.raises(ValueError, match="type"):
        bloom_semi_reduce(fact, keys, "k")


def test_bloom_key_bitmap_partial_final_chunk(spark):
    """m_bits above _CHUNK_BITS but not a multiple of it leaves a SHORT
    final chunk — the packed 128 KiB buffer must be trimmed on assignment
    (previously a numpy shape-mismatch ValueError). Correctness is pinned
    by the exactness of the full semi join at that geometry."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.bloom import _CHUNK_BITS
    from simple_pos_kafka_pyspark_airflow_spark.operators.joins import (
        bloom_key_bitmap,
        bloom_semi_reduce,
    )

    m_bits = _CHUNK_BITS + (_CHUNK_BITS // 2)  # 1.5 chunks, multiple of 8
    fact = spark.createDataFrame(
        [(i % 700, i) for i in range(4000)], "k long, payload long"
    )
    keys = spark.createDataFrame([(v,) for v in range(0, 2000, 3)], "k long")
    bm = bloom_key_bitmap(keys, "k", m_bits=m_bits)
    assert bm.size == m_bits >> 3 and int(bm.sum()) > 0
    got = sorted(
        (r["k"], r["payload"])
        for r in bloom_semi_reduce(fact, keys, "k", m_bits=m_bits).collect()
    )
    want = sorted(
        (r["k"], r["payload"]) for r in fact.join(keys, "k", "left_semi").collect()
    )
    assert got == want and len(got) > 0


def test_cms_join_size_empty_sketch_is_zero(spark):
    """An empty sketch means its side has NO keys, so the true join size
    is 0 — empty-vs-nonempty and empty-vs-empty must both return a single
    est_join_size=0 row, not a depth-mismatch error or a NULL."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.aggregates import (
        cms_join_size,
        count_min_table,
    )

    nonempty = count_min_table(
        spark.createDataFrame([(1,), (2,), (2,)], "k long"), "k", width=64
    )
    empty = count_min_table(
        spark.createDataFrame([], "k long"), "k", width=64
    )
    for a, b in ((empty, nonempty), (nonempty, empty), (empty, empty)):
        rows = cms_join_size(a, b).collect()
        assert len(rows) == 1 and rows[0]["est_join_size"] == 0


def test_duplication_weights_mass_conservation(spark):
    """weight = 1/n_copies per identical-text group; Σ weight == number
    of distinct texts exactly; canonical=True folds case/whitespace
    variants into one group."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.filtering import (
        duplication_weights,
    )

    df = spark.createDataFrame(
        [(1, "aa bb"), (2, "aa bb"), (3, "cc"), (4, "AA   bb"), (5, "dd")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_copies"], r["weight"]) for r in duplication_weights(df).collect()}
    assert got[1] == (2, 0.5) and got[2] == (2, 0.5)
    assert got[3] == (1, 1.0) and got[4] == (1, 1.0) and got[5] == (1, 1.0)
    assert sum(w for _, w in got.values()) == 4.0

    canon = {r["doc_id"]: r["n_copies"] for r in duplication_weights(df, canonical=True).collect()}
    assert canon[1] == canon[2] == canon[4] == 3


def test_grouped_gini_known_values(spark):
    """Gini of equal shares is 0; a one-member-takes-all group approaches
    (n−1)/n; permuted tied values give identical results (rank-order
    freedom); all-zero groups yield NULL."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.aggregates import (
        grouped_gini,
    )

    rows = (
        [("eq", 5)] * 4
        + [("dom", 0), ("dom", 0), ("dom", 0), ("dom", 100)]
        + [("zero", 0), ("zero", 0)]
        + [("mix", 1), ("mix", 2), ("mix", 3), ("mix", 4)]
    )
    df = spark.createDataFrame(rows, "g string, x long")
    got = {r["g"]: r["gini"] for r in grouped_gini(df, "g", F.col("x")).collect()}
    assert got["eq"] == 0.0
    assert got["dom"] == 0.75  # (n-1)/n with one taker, n=4
    assert got["zero"] is None
    # mix: G = (2*(1*1+2*2+3*3+4*4) - 5*10) / (4*10) = (60-50)/40 = 0.25
    assert got["mix"] == 0.25


def test_two_proportion_ztest_matches_closed_form(spark):
    """z must equal the hand-computed pooled two-proportion statistic;
    a rate-equal split gives z = 0; an all-converted pool gives NULL
    (zero pooled variance)."""
    import math

    from simple_pos_kafka_pyspark_airflow_spark.operators.aggregates import (
        two_proportion_ztest,
    )

    rows = [("a", 1)] * 30 + [("a", 0)] * 70 + [("b", 1)] * 50 + [("b", 0)] * 50
    df = spark.createDataFrame(rows, "variant string, converted long")
    row = two_proportion_ztest(df, "variant", "converted").first()
    assert (row["n_a"], row["conv_a"], row["n_b"], row["conv_b"]) == (100, 30, 100, 50)
    pool = 80 / 200
    want = (0.3 - 0.5) / math.sqrt((pool * (1 - pool)) * (1 / 100 + 1 / 100))
    assert abs(row["z"] - want) < 1e-12

    even = spark.createDataFrame(
        [("a", 1), ("a", 0), ("b", 1), ("b", 0)], "variant string, converted long"
    )
    assert two_proportion_ztest(even, "variant", "converted").first()["z"] == 0.0

    allconv = spark.createDataFrame(
        [("a", 1), ("b", 1)], "variant string, converted long"
    )
    assert two_proportion_ztest(allconv, "variant", "converted").first()["z"] is None


def test_dup_groups_keep_best_prefers_score_then_low_id(spark):
    """Keep-best dedup: highest score wins, ties break to LOWEST id,
    singletons keep themselves, exactly one keep per group."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.dedup import (
        dup_groups_keep_best,
    )

    rows = [
        (1, "dup", 5), (2, "dup", 9), (3, "dup", 9),  # 2 wins (tie 2 vs 3)
        (4, "solo", 0),
        (5, "pair", 7), (6, "pair", 3),               # 5 wins on score
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, s long")
    got = {
        r["doc_id"]: (r["n_copies"], r["keep"])
        for r in dup_groups_keep_best(df, "text", "doc_id", F.col("s")).collect()
    }
    assert got == {
        1: (3, 0), 2: (3, 1), 3: (3, 0),
        4: (1, 1),
        5: (2, 1), 6: (2, 0),
    }, got


def test_salted_count_distinct_exact_and_plan_splits_state(spark):
    """Salted two-phase distinct must equal plain count_distinct exactly
    (bucketing cancels out), and the plan must carry TWO aggregation
    exchanges — the first keyed (key, salt), which is what spreads a hot
    key's distinct state across tasks."""
    from simple_pos_kafka_pyspark_airflow_spark.analyze import plan_summary
    from simple_pos_kafka_pyspark_airflow_spark.operators.aggregates import (
        salted_count_distinct,
    )

    rows = [("hot", i % 137) for i in range(3000)] + [("cold", i) for i in range(7)]
    df = spark.createDataFrame(rows, "k string, v long")
    got = {r["k"]: r["n_distinct"] for r in salted_count_distinct(df, "k", "v").collect()}
    assert got == {"hot": 137, "cold": 7}, got
    s = plan_summary(salted_count_distinct(df, "k", "v"))
    assert s["exchanges"] == 3, s


def test_fk_violations_separates_null_from_dangling(spark):
    """NULL FKs report as null_fk (modeling), missing parents as
    dangling_fk (corruption); clean children report nothing."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.validation import (
        fk_violations,
    )

    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    child = spark.createDataFrame(
        [(1,), (2,), (None,), (9,), (9,), (3,)], "fk long"
    )
    got = sorted(
        (r["reason"], r["fk_value"])
        for r in fk_violations(child, parent, "fk", "pk").collect()
    )
    assert got == [("dangling_fk", 9), ("dangling_fk", 9), ("null_fk", None)], got


def test_changepoint_cusum_finds_planted_shift(spark):
    """argmax |n·S_k − k·S_n| must land on the last pre-shift row for a
    clean level shift; constant series have d_max = 0 with the earliest
    row as the (degenerate) tie winner."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.timeseries import (
        changepoint_cusum,
    )

    rows = [("g", i, 10 if i < 12 else 60) for i in range(20)]
    rows += [("flat", i, 7) for i in range(5)]
    df = spark.createDataFrame(rows, "g string, t int, x long")
    got = {
        r["g"]: (r["split_at"], r["d_max"])
        for r in changepoint_cusum(df, "g", "t", F.col("x")).collect()
    }
    assert got["g"][0] == 11, got  # last pre-shift index
    assert got["flat"] == (0, 0), got


def test_cooccurrence_pairs_apriori_semantics(spark):
    """Pairs count DOCUMENT co-membership at any distance; infrequent
    tokens are pruned before pairing (downward closure); the per-doc
    item cap excludes degenerate docs from pair forming; lift matches
    the exact ratio."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.textops import (
        cooccurrence_pairs,
    )

    rows = [
        (1, "aa xx bb"),          # aa..bb non-adjacent
        (2, "bb yy aa"),          # order flipped
        (3, "aa bb"),
        (4, "aa zz"),             # zz appears once -> pruned
        (5, " ".join(f"w{i}" for i in range(10)) + " aa bb"),  # capped out
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["tok_a"], r["tok_b"]): (r["n_pair_docs"], r["lift"])
        for r in cooccurrence_pairs(df, min_support=3, max_doc_items=5).collect()
    }
    # doc 5 exceeds the 5-item cap only if its frequent-token count > 5:
    # w* tokens are singletons (pruned), so doc 5 carries just {aa, bb}
    # and DOES pair; (aa, bb) in docs 1,2,3,5 -> 4 >= 3
    assert set(got) == {("aa", "bb")}, got
    n_docs, dfa, dfb = 5, 5, 4  # aa in docs 1-5? aa in 1,2,3,4,5; bb in 1,2,3,5
    assert got[("aa", "bb")][0] == 4
    assert got[("aa", "bb")][1] == n_docs * 4 / (dfa * dfb)


def test_gram_matrix_exact_matches_numpy_and_partition_invariant(spark):
    """The partial-matrix reduce must equal numpy's Q^T Q on the floored
    int lattice EXACTLY, and be invariant to partitioning (order-free
    int64 sums — the whole point vs a float Gram)."""
    import numpy as np

    from simple_pos_kafka_pyspark_airflow_spark.llm.simsearch import (
        gram_matrix_exact,
    )

    rng = np.random.RandomState(3)
    vecs = rng.randn(40, 5).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    q = np.floor(vecs.astype("float64") * 1_000_000).astype("int64")
    want = q.T @ q
    for parts in (1, 7):
        got = {
            (r["i"], r["j"]): r["gram"]
            for r in gram_matrix_exact(df.repartition(parts)).collect()
        }
        assert len(got) == 15  # upper triangle of 5x5
        for (i, j), v in got.items():
            assert v == want[i, j], (i, j, v, want[i, j])


def test_resize_bmp_real_nearest_neighbor_downsample(spark):
    """r9 stub upgrade: image/bmp payloads resize through REAL pixel
    resampling — output parses as a valid BMP at the target geometry
    with channel means close to the original; upsampling is a no-op;
    non-BMP mimes keep the stub truncate path."""
    import numpy as np

    from simple_pos_kafka_pyspark_airflow_spark.llm.multimodal import (
        decode_bmp,
        encode_bmp,
        resize_assets,
        resize_bmp,
    )

    rng = np.random.RandomState(2)
    px = rng.randint(0, 256, size=(16, 24, 3), dtype=np.uint8)
    bmp = encode_bmp(24, 16, px.tobytes())

    small = resize_bmp(bmp, 6)
    d = decode_bmp(small)
    assert (d["width"], d["height"]) == (6, 4)
    for ch in ("mean_b", "mean_g", "mean_r"):
        assert abs(d[ch] - decode_bmp(bmp)[ch]) < 30  # sampled means stay close
    assert resize_bmp(bmp, 100) == bmp  # never upscale

    rows = [
        (1, "image", "image/bmp", bytearray(bmp), {"width": 24, "height": 16, "duration_ms": None}),
        (2, "audio", "audio/wav", bytearray(b"\x00" * 5000), {"width": None, "height": None, "duration_ms": 7}),
    ]
    df = spark.createDataFrame(
        rows,
        "asset_id long, modality string, mime string, payload binary, "
        "meta struct<width:int,height:int,duration_ms:int>",
    )
    got = {r["asset_id"]: r for r in resize_assets(df, max_bytes=1024, target_w=6).collect()}
    assert (got[1]["meta"]["width"], got[1]["meta"]["height"]) == (6, 4)
    assert decode_bmp(bytes(got[1]["payload"]))["width"] == 6
    assert len(got[2]["payload"]) == 1024  # stub path: byte cap
    assert got[2]["meta"]["duration_ms"] == 7


def test_decayed_sum_dyadic_staircase_and_envelope(spark):
    """Dyadic decay: weight halves per half_life bucket exactly (python
    replay), ages clamp to [0, k_max], and an out-of-range k_max is
    refused."""
    import pytest as _pytest

    from simple_pos_kafka_pyspark_airflow_spark.operators.aggregates import (
        decayed_sum_dyadic,
    )

    rows = [("g", 100, 0), ("g", 100, 7), ("g", 100, 14), ("g", 100, 999)]
    df = spark.createDataFrame(rows, "g string, v long, age long")
    r = decayed_sum_dyadic(df, "g", F.col("v"), F.col("age"), 7, max_age=14).first()
    # k_max = 2: weights 4, 2, 1, 1(clamped) on scale 4
    assert r["scaled_sum"] == 100 * 4 + 100 * 2 + 100 * 1 + 100 * 1
    assert r["score"] == r["scaled_sum"] / 4.0
    with _pytest.raises(ValueError, match="52"):
        decayed_sum_dyadic(df, "g", F.col("v"), F.col("age"), 1, max_age=60)

    # bucketing must be TRUE integer division even past 2^53: with
    # h = 2^53+1 and age = 3h−1, the true bucket is 2 (one unit short of
    # 3h), but float(age) rounds UP past 3h, so double division truncates
    # to bucket 3 — off by one decay halving. Negative ages pin bucket 0.
    h = (1 << 53) + 1
    edge = spark.createDataFrame(
        [("e", 8, 3 * h - 1), ("e", 8, -5)], "g string, v long, age long"
    )
    r2 = decayed_sum_dyadic(edge, "g", F.col("v"), F.col("age"), h, max_age=4 * h).first()
    # k_max=4: big age → k=2 (weight 4, NOT the double path's k=3 weight
    # 2); negative age → k=0 (weight 16)
    assert r2["scaled_sum"] == 8 * 4 + 8 * 16


def test_kll_sketch_mergeability_and_rank_error(spark):
    """KLL quantile sketch properties: (a) get_n is EXACT through any
    merge tree (deterministic, unlike the quantile estimates); (b) the
    merged sketch's quantile estimates land within the documented
    normalized-rank error of the exact quantiles, for two DIFFERENT
    shardings of the same skewed data (merge associativity in effect)."""
    from pyspark.sql import functions as F

    from simple_pos_kafka_pyspark_airflow_spark.operators.aggregates import (
        kll_merge_shards,
        kll_sketch_table,
    )

    # skewed longs: x = floor(1/u^0.5)-ish via integer hashing, domain ~1..1000
    n = 50_000
    df = spark.range(n).select(
        (F.col("id") % 16).alias("shard_a"),
        (F.col("id") % 7).alias("shard_b"),
        (F.pmod(F.xxhash64("id"), F.lit(1000)) + 1).alias("x"),
    )
    exact = sorted(r["x"] for r in df.select("x").collect())

    for shard_col in ("shard_a", "shard_b"):
        sk = kll_sketch_table(df, shard_col, "x", k=200)
        merged = kll_merge_shards(sk)
        row = merged.select(
            F.expr("kll_sketch_get_n_bigint(kll)").alias("sk_n"),
            "n",
            *[
                F.expr(
                    f"kll_sketch_get_quantile_bigint(kll, CAST({p} AS DOUBLE))"
                ).alias(f"q_{i}")
                for i, p in enumerate((0.1, 0.25, 0.5, 0.75, 0.9, 0.99))
            ],
        ).first()
        assert row["sk_n"] == row["n"] == n  # exact through the merge
        for i, p in enumerate((0.1, 0.25, 0.5, 0.75, 0.9, 0.99)):
            est = row[f"q_{i}"]
            # exact inclusive/exclusive rank of the estimate
            import bisect

            inc = bisect.bisect_right(exact, est) / n
            exc = bisect.bisect_left(exact, est) / n
            assert exc - 0.05 <= p <= inc + 0.05, (shard_col, p, est, exc, inc)


def test_pq_recall_vs_int8_and_compression(spark):
    """PQ properties on the real test embeddings: (a) encode determinism
    + shape (m codes in [0, ks)); (b) recall@10 of ADC + exact-rerank
    retrieval vs the brute-force truth is high AND within 10pp of the
    int8-dequantized ranking's recall — while the PQ scan column is
    m ints/row vs 64 int8s (8x) vs 64 fp32s (32x); (c) the planted twin
    encodes to the identical code word-for-word."""
    import numpy as np

    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch as ss

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = ss.pq_train(e, m=8, ks=16)
    assert len(cb) == 8 and all(len(s) == 16 for s in cb)
    assert ss.pq_train(e, m=8, ks=16) == cb  # deterministic retrain

    enc = ss.pq_encode(e, cb).localCheckpoint(eager=True)
    codes = {r["vec_id"]: r["pq_code"] for r in enc.collect()}
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c) for c in codes.values())

    queries = e.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    truth = {
        (r["query_id"], r["vec_id"])
        for r in ss.cosine_topk_batch(e, queries, k=10).collect()
    }
    # rerank=150 on this 500-vector corpus: the test embeddings are
    # near-isotropic (max pairwise cosine 0.51 — the documented
    # worst case for ADC ordering, same property that caps IVF recall at
    # nprobe/n_cells here), so the buffer must be generous; measured
    # recall 0.76/0.90/0.96 at rerank 50/100/150. Clustered real
    # corpora need far smaller buffers (Jégou et al. report high recall
    # at rerank ~2-10x k).
    got_pq = {
        (r["query_id"], r["vec_id"])
        for r in ss.pq_topk_batch(enc, cb, queries, k=10, rerank=150).collect()
    }
    pq_recall = len(truth & got_pq) / len(truth)

    # int8 tier: rank on the dequantized vectors (scale/2 per-element err)
    qz = ss.quantize_embeddings_arrow(e)
    deq = qz.select(
        "vec_id",
        ss.dequantize_embedding(F.col("q_codes"), F.col("q_scale")).alias("embedding"),
    )
    got_i8 = {
        (r["query_id"], r["vec_id"])
        for r in ss.cosine_topk_batch(deq, queries, k=10).collect()
    }
    i8_recall = len(truth & got_i8) / len(truth)

    assert pq_recall >= 0.9, (pq_recall, i8_recall)
    assert pq_recall >= i8_recall - 0.10, (pq_recall, i8_recall)

    # planted twin: identical vector => identical code
    twin = ss.pq_encode(
        e.limit(3).withColumn("vec_id", F.col("vec_id") + 777), cb
    ).collect()
    for r in twin:
        assert r["pq_code"] == codes[r["vec_id"] - 777]


def test_fuzzy_join_editdist_equals_quadratic(spark):
    """Two-table fuzzy join: the gram-prefix + short-band union must
    equal the quadratic definition, across BOTH regimes (strings below
    q·(d+1) ride the |Δlen| band path, longer ones the rare-gram
    prefixes) and across the regime boundary, including same-length
    corpora (the case plain length banding degrades to quadratic on)."""
    import itertools

    from simple_pos_kafka_pyspark_airflow_spark.llm.dedup import fuzzy_join_editdist

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    L = [
        (1, "abcdefg"), (2, "abcdefgh"), (3, "xxxxxxxxx"), (4, "zz"),
        (5, "the quick brown fox jumps"), (6, "zq"), (7, "abcdefghij"),
    ]
    R = [
        (10, "abcdefgx"), (11, "abcdefghi"), (12, "xxxxxxxx"),
        (13, "qqqqqqqq"), (14, "the quick brown fox jumpy"),
        (15, "zz"), (16, "abcdefghijkl"),
    ]
    left = spark.createDataFrame(L, "lid long, s string")
    right = spark.createDataFrame(R, "rid long, t string")
    got = sorted(
        (r["lid"], r["rid"], r["dist"])
        for r in fuzzy_join_editdist(
            left, right, "s", "t", l_id="lid", r_id="rid",
            max_dist=2, max_posting_docs=None,
        ).collect()
    )
    want = sorted(
        (lr[0], rr[0], lev(lr[1], rr[1]))
        for lr, rr in itertools.product(L, R)
        if lev(lr[1], rr[1]) <= 2
    )
    assert got == want and len(got) >= 6, (got, want)

    import pytest

    with pytest.raises(ValueError, match="max_dist"):
        fuzzy_join_editdist(left, right, "s", "t", max_dist=-1)


def test_grouped_winsorize_known_values(spark):
    """Hand-checked clamp: 20 values 1..20 in one group — p5 ceil-rank is
    x=1 (cum 1 ≥ ceil(20/20)), p95 is x=19 (cum 19 ≥ ceil(19·20/20)), so
    exactly one row clamps high, none low; an all-equal group clamps
    nothing and q_lo = q_hi = the value."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.aggregates import (
        grouped_winsorize,
    )

    rows = [("a", v) for v in range(1, 21)] + [("b", 7)] * 5
    df = spark.createDataFrame(rows, "g string, x long")
    out = grouped_winsorize(df, "g", F.col("x"))
    a = {r["x"]: (r["q_lo"], r["q_hi"], r["x_w"]) for r in out.where("g = 'a'").collect()}
    assert a[1] == (1, 19, 1)       # at the low quantile, not below
    assert a[20] == (1, 19, 19)     # clamped down to q_hi
    assert a[19] == (1, 19, 19)
    b = {r["x_w"] for r in out.where("g = 'b'").collect()}
    assert b == {7}


def test_tf_cosine_topk_numpy_twin_and_max_df(spark):
    """tf-cosine retrieval equals a dense numpy recount on a toy corpus;
    max_df drops only the universal stopword's postings — results then
    equal the recount over the PRUNED vocabulary (the cap is a stated
    semantics change, not silent truncation)."""
    import math

    from simple_pos_kafka_pyspark_airflow_spark.llm.textops import tf_cosine_topk

    docs = [
        (1, "the cat sat on the mat"),
        (2, "the cat ate the fish"),
        (3, "the dog sat on the log"),
        (4, "quantum flux capacitor the"),
    ]
    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    queries = spark.createDataFrame([(1, docs[0][1])], "query_id long, text string")

    def dense_topk(max_df=None):
        from collections import Counter

        tfs = {i: Counter(t.lower().split()) for i, t in docs}
        if max_df is not None:
            dfreq = Counter(w for c in tfs.values() for w in c)
            for c in tfs.values():
                for w in [w for w in c if dfreq[w] > max_df]:
                    del c[w]
        q = tfs[1]
        out = []
        for i, c in tfs.items():
            if i == 1:
                continue
            dot = sum(q[w] * c[w] for w in q)
            if dot == 0:
                continue
            score = dot / (
                math.sqrt(sum(v * v for v in q.values()))
                * math.sqrt(sum(v * v for v in c.values()))
            )
            out.append((i, dot, score))
        out.sort(key=lambda r: (-r[2], r[0]))
        return out

    for max_df in (None, 3):
        got = [
            (r["doc_id"], r["dot"], r["score"])
            for r in tf_cosine_topk(corpus, queries, k=5, max_df=max_df)
            .orderBy("rn")
            .collect()
        ]
        want = dense_topk(max_df)
        assert [(g[0], g[1]) for g in got] == [(w[0], w[1]) for w in want], (max_df, got, want)
        for g, w in zip(got, want):
            assert abs(g[2] - w[2]) < 1e-12
    # with max_df=3 the universal 'the' is pruned: doc 4 shares nothing
    # with the query anymore and must vanish from the results
    pruned_ids = {r["doc_id"] for r in tf_cosine_topk(corpus, queries, k=5, max_df=3).collect()}
    assert 4 not in pruned_ids and {2, 3} <= pruned_ids


def test_fuzzy_join_jaccard_equals_quadratic(spark):
    """Two-table Jaccard join equals the brute-force definition on a toy
    corpus with qualifying, borderline, and disqualified pairs, and with
    set sizes straddling the size-ratio bound."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.dedup import fuzzy_join_jaccard

    L = [
        (1, "a b c d e f g h"),
        (2, "p q r s t u v w"),
        (3, "x y z"),
    ]
    R = [
        (10, "a b c d e f g h i"),      # near-twin of 1
        (11, "p q r s t u v w"),        # exact twin of 2
        (12, "completely different words here now"),
        (13, "x y z"),                  # exact twin of 3 (single-shingle set)
    ]
    left = spark.createDataFrame(L, "lid long, s string")
    right = spark.createDataFrame(R, "rid long, t string")

    def shingles(text, n=3):
        toks = text.lower().split()
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    def want(th):
        out = []
        for lid, s in L:
            for rid, t in R:
                a, b = shingles(s), shingles(t)
                j = len(a & b) / len(a | b)
                if j >= th:
                    out.append((lid, rid, round(j, 9)))
        return sorted(out)

    for th in (0.5, 0.8):
        got = sorted(
            (r["lid"], r["rid"], round(r["jaccard"], 9))
            for r in fuzzy_join_jaccard(
                left, right, "s", "t", l_id="lid", r_id="rid", threshold=th
            ).collect()
        )
        assert got == want(th), (th, got, want(th))
    assert len(want(0.5)) >= 3  # non-vacuous: twins + near-twin qualify


def test_predicted_lang_codegen_equals_hof_reference(spark, sf_dir):
    """r15: language id and marker counting moved from interpreted
    higher-order F.filter scans to one codegen regexp_count pass per
    language with a single-evaluation struct-array argmax. Pin the new
    form bit-equal to the HOF reference
    (predicted_lang_from_tokens, above) on the real corpus AND on adversarial
    token boundaries (punctuation-glued markers, repeated single-char
    markers sharing one delimiter, tabs/newlines, ties, the all-zero →
    'und' sentinel), and stopword_ratio exactly unchanged."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = textops.tokens(F.lower(F.col("text")))
    cmp = docs.select(
        textops.predicted_lang_from_text(F.lower(F.col("text"))).alias("new"),
        predicted_lang_from_tokens(toks).alias("old"),
    )
    assert cmp.where(F.col("new") != F.col("old")).count() == 0

    rows = [
        (1, "the the the"), (2, "  the\tand\nof  "), (3, "the. and, of!"),
        (4, ""), (5, "a"), (6, "to a"), (7, "a a a"), (8, "THE AND OF"),
        (9, "der die das und nicht ist the"), (10, "xthe thex athea"),
        (11, "de5 de5"), (12, "le la et the and of to a in is"),
        (13, "is\n"), (14, "\tthe"), (15, "el la los que de es"),
        (16, "und"), (17, "the  and   of"), (18, "a-the the-a"),
        (19, "la la"), (20, "de de"), (21, "es es la la"),
    ]
    adv = spark.createDataFrame(rows, "doc_id long, text string")
    c2 = adv.select(
        "doc_id",
        textops.predicted_lang_from_text(F.lower(F.col("text"))).alias("new"),
        predicted_lang_from_tokens(
            textops.tokens(F.lower(F.col("text")))
        ).alias("old"),
    )
    assert c2.where(F.col("new") != F.col("old")).count() == 0

    old_ratio = F.size(
        F.filter(toks, lambda t: t.isin(*textops.LANG_MARKERS["en"]))
    ) / F.greatest(F.size(toks), F.lit(1))
    delta = (
        docs.select((textops.stopword_ratio(F.col("text")) - old_ratio).alias("d"))
        .agg(F.max(F.abs("d")))
        .first()[0]
    )
    assert delta == 0.0


def test_fuzzy_join_jaccard_hot_shingle_skew_safe(spark):
    """A hot shingle (here in ~30% of docs per side) lands its whole
    posting list in the one document-frequency window task over the
    shingle hash; the join must still equal brute force on that skewed
    fixture."""
    import io
    from contextlib import redirect_stdout

    from simple_pos_kafka_pyspark_airflow_spark.llm.dedup import fuzzy_join_jaccard

    # one stopword trigram ("the end now") planted in 30% of docs per side
    hot = "the end now"
    L = [(i, f"unique{i} alpha{i} beta{i} gamma{i} " + (hot if i % 10 < 3 else f"tail{i} x{i} y{i}"))
         for i in range(40)]
    R = [(100 + i, f"unique{i} alpha{i} beta{i} gamma{i} " + (hot if i % 10 < 3 else f"tail{i} x{i} y{i}"))
         for i in range(40)]
    left = spark.createDataFrame(L, "lid long, s string")
    right = spark.createDataFrame(R, "rid long, t string")

    def run():
        out = fuzzy_join_jaccard(left, right, "s", "t", l_id="lid",
                                 r_id="rid", threshold=0.5)
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        rows = sorted((r["lid"], r["rid"], round(r["jaccard"], 9))
                      for r in out.collect())
        return rows, buf.getvalue()

    got, plan = run()
    # the dfreq is the count window over _h alone (the measured optimum)
    assert "windowspecdefinition(_h#" in plan

    def shingles(text, n=3):
        toks = text.lower().split()
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    want = sorted(
        (lid, rid, round(len(shingles(s) & shingles(t)) / len(shingles(s) | shingles(t)), 9))
        for lid, s in L for rid, t in R
        if len(shingles(s) & shingles(t)) / len(shingles(s) | shingles(t)) >= 0.5
    )
    assert got == want
    assert len(want) >= 12  # every i↔100+i twin qualifies


def test_bigram_logprob_order_awareness(spark):
    """The whole point of the bigram score: SHUFFLED prose keeps its
    unigram score but drops here. Corpus: many repeats of one sentence
    (so its bigrams are high-probability) + one doc with the same words
    reversed — same bag, broken bigrams, strictly lower score. Backoff
    terms apply to the reversed doc's unseen bigrams."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.textops import (
        bigram_logprob_scores,
        unigram_logprob_scores,
    )

    sent = "the cat sat on the mat"
    docs = [(i, sent) for i in range(10)] + [(99, " ".join(sent.split()[::-1]))]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    bg = {r["doc_id"]: r["mean_logprob"] for r in bigram_logprob_scores(df).collect()}
    ug = {r["doc_id"]: r["mean_logprob"] for r in unigram_logprob_scores(df).collect()}
    assert ug[99] == ug[0]          # bag-of-words can't tell them apart
    assert bg[99] < bg[0] - 0.5     # order-aware score craters
    # single-token docs emit no row
    one = spark.createDataFrame([(1, "hello")], "doc_id long, text string")
    assert bigram_logprob_scores(one).count() == 0


def test_dedup_clusters_fast_path_equals_distributed(spark):
    """The driver union-find fast path must produce EXACTLY the
    distributed propagation's labels — components keyed by min id —
    including chains, merged components (union order independence),
    singletons via all_ids, and string ids (lexicographic min)."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.dedup import dedup_clusters

    # chain + a triangle merging two pre-existing components + isolates
    edges = (
        [(i, i + 1) for i in range(9)]
        + [(20, 21), (22, 23), (21, 22)]
        + [(30, 31)]
    )
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    ids = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    fast = sorted(
        (r["doc_id"], r["cluster_id"], r["keep"])
        for r in dedup_clusters(pairs, all_ids=ids).collect()
    )
    dist = sorted(
        (r["doc_id"], r["cluster_id"], r["keep"])
        for r in dedup_clusters(pairs, all_ids=ids, max_driver_edges=0).collect()
    )
    assert fast == dist and len(fast) == 40
    by = dict((d, c) for d, c, _ in fast)
    assert by[9] == 0 and by[23] == 20 and by[31] == 30 and by[35] == 35

    # string ids: min is lexicographic on both paths
    sp = spark.createDataFrame([("b", "a"), ("c", "b")], "id_a string, id_b string")
    f = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(sp).collect()}
    d = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(sp, max_driver_edges=0).collect()
    }
    assert f == d == {"a": "a", "b": "a", "c": "a"}


def test_stratified_split_exact_proportions(spark):
    """Every group's split counts are exact integer floors of the
    requested percentages — including a group SMALLER than a bucket
    (3 docs at 80/10: 2 train, 0 val, 1 test), which a global hash
    split only hits in expectation; rerun is deterministic."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.filtering import stratified_split

    rows = [(i, "big") for i in range(100)] + [(1000 + i, "small") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_split(df, "source", "doc_id")
    counts = {
        (r["source"], r["split"]): r["n"]
        for r in out.groupBy("source", "split").agg(F.count("*").alias("n")).collect()
    }
    assert counts[("big", "train")] == 80
    assert counts[("big", "val")] == 10
    assert counts[("big", "test")] == 10
    # small group: r*100 <= 80*3 -> r <= 2 train; r*100 <= 90*3 -> r <= 2 (no val); rest test
    assert counts[("small", "train")] == 2
    assert ("small", "val") not in counts
    assert counts[("small", "test")] == 1
    # determinism: identical assignment on rerun
    a = sorted((r["doc_id"], r["split"]) for r in out.collect())
    b = sorted(
        (r["doc_id"], r["split"])
        for r in stratified_split(df, "source", "doc_id").collect()
    )
    assert a == b


def test_grouped_winsorize_null_handling(spark):
    """NULLs take no part in the quantiles and pass through with x_w
    NULL; an all-NULL group keeps its rows (NULL quantiles) instead of
    vanishing through the clamp join."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.aggregates import (
        grouped_winsorize,
    )

    rows = [("a", v) for v in range(1, 21)] + [("a", None), ("nul", None), ("nul", None)]
    df = spark.createDataFrame(rows, "g string, x long")
    out = grouped_winsorize(df, "g", F.col("x")).collect()
    assert len(out) == 23  # nothing dropped
    a_null = [r for r in out if r["g"] == "a" and r["x"] is None]
    assert len(a_null) == 1 and a_null[0]["x_w"] is None
    # the NULL did not shift group a's quantiles (same as the known-values test)
    assert {(r["q_lo"], r["q_hi"]) for r in out if r["g"] == "a"} == {(1, 19)}
    nul = [r for r in out if r["g"] == "nul"]
    assert len(nul) == 2 and all(
        r["x_w"] is None and r["q_lo"] is None and r["q_hi"] is None for r in nul
    )


def test_pca_fit_matches_numpy(spark):
    """pca_fit's eigenvalues/components agree with numpy PCA over the
    collected data (the lattice snap costs ~1e-6); the sign convention
    makes refits reproducible; projection empirically decorrelates."""
    import numpy as np

    from simple_pos_kafka_pyspark_airflow_spark.llm.simsearch import pca_fit, pca_project

    rng = np.random.RandomState(5)
    # anisotropic 8-dim cloud: two dominant directions
    base = rng.randn(400, 8) * np.array([5.0, 3.0, 1, 1, 0.5, 0.5, 0.2, 0.1])
    rows = [(i, [float(x) for x in base[i]]) for i in range(len(base))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    m = pca_fit(df, k=3, vec_col="embedding")
    # reference: numpy covariance (float32 round-trip matches the data)
    data = np.stack([np.array(r, dtype="float32").astype("float64") for r in base])
    cov = np.cov(data.T, bias=True)
    evals = np.sort(np.linalg.eigvalsh(cov))[::-1][:3]
    assert np.allclose(m["explained_var"], evals, rtol=1e-4)
    # components match numpy's up to the (fixed) sign: |dot| ~ 1
    vecs = np.linalg.eigh(cov)[1][:, ::-1][:, :3].T
    dots = np.abs(np.einsum("ij,ij->i", m["components"], vecs))
    assert np.all(dots > 0.9999), dots
    # sign convention: largest-|entry| coordinate is positive
    for row in m["components"]:
        assert row[int(np.argmax(np.abs(row)))] > 0
    # projection: per-component variance equals the eigenvalue, mean ~ 0
    proj = pca_project(df, m).toPandas()
    P = np.stack(proj["projected"].to_numpy()).astype("float64")
    assert np.allclose(P.mean(axis=0), 0.0, atol=1e-3)
    assert np.allclose(P.var(axis=0), m["explained_var"], rtol=1e-3)


def test_pca_project_on_testdata_embeddings(spark, sf_dir):
    """End-to-end on the synthetic embeddings table: 64 -> 8 dims, output
    schema and row conservation, and the top component explains the most
    variance (ratios are sorted descending and sum <= 1)."""
    import numpy as np

    from simple_pos_kafka_pyspark_airflow_spark.llm.simsearch import pca_fit, pca_project

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    m = pca_fit(emb, k=8)
    assert m["components"].shape == (8, 64) and m["n"] == emb.count()
    r = m["explained_ratio"]
    assert np.all(np.diff(r) <= 1e-12) and 0 < r.sum() <= 1.0 + 1e-9
    out = pca_project(emb, m)
    assert out.columns == ["vec_id", "projected"]
    assert out.count() == m["n"]
    assert len(out.first()["projected"]) == 8


# ---------------------------------------------------------------------------
# r11: URL canonicalization + PII gate edge cases
# ---------------------------------------------------------------------------


def test_canonical_url_edge_cases(spark):
    from simple_pos_kafka_pyspark_airflow_spark.llm.dedup import canonical_url

    cases = {
        # host case folds, path case preserved
        "https://EXAMPLE.com/Path/X": "https://example.com/Path/X",
        # fragment stripped
        "https://a.com/p#frag": "https://a.com/p",
        # tracking params stripped wherever they sit; real params survive in order
        "https://a.com/p?utm_source=x&id=7": "https://a.com/p?id=7",
        "https://a.com/p?id=7&utm_campaign=y": "https://a.com/p?id=7",
        "https://a.com/p?a=1&ref=z&b=2": "https://a.com/p?a=1&b=2",
        # all-tracking query vanishes entirely
        "https://a.com/p?utm_a=1&fbclid=2": "https://a.com/p",
        # trailing slashes stripped (root too)
        "https://a.com/p/": "https://a.com/p",
        "https://a.com/": "https://a.com",
        # utm value containing no '=' boundary issues
        "http://B.com:8080/q?utm_x=a+b&k=v#z": "http://b.com:8080/q?k=v",
        # uppercase scheme still matches the authority extract (r12,
        # ADVICE): host lowers, path case preserved
        "HTTP://HOST.COM/Path/X": "http://host.com/Path/X",
        "HTTPS://A.com/p/": "https://a.com/p",
        # uppercase tracking params strip too
        "https://a.com/p?UTM_SOURCE=x&id=7": "https://a.com/p?id=7",
        "https://a.com/p?a=1&Ref=z&b=2": "https://a.com/p?a=1&b=2",
        "https://a.com/p?FBCLID=2": "https://a.com/p",
    }
    df = spark.createDataFrame([(u,) for u in cases], ["u"])
    got = {r["u"]: r["c"] for r in df.select("u", canonical_url(F.col("u")).alias("c")).collect()}
    for raw, want in cases.items():
        assert got[raw] == want, (raw, got[raw], want)


def test_pii_counts_and_redaction(spark):
    from simple_pos_kafka_pyspark_airflow_spark.llm.filtering import pii_counts

    rows = [
        ("mail me at ann.b+x@Example.co.uk thanks", 1, 0),
        ("call 555-0199 or 555-0200 now", 0, 2),
        ("no pii here 5550199 a@b c@d.e", 1, 0),  # a@b lacks TLD; c@d.e has 1-char TLD -> no
        ("both: z9@m.io and 555-1234", 1, 1),
        ("", 0, 0),
    ]
    # row 3: 'c@d.e' TLD is 1 char -> pattern requires {2,} so only... wait
    # 'a@b' no dot; 'c@d.e' -> [A-Za-z]{2,} fails on 'e' -> 0 emails? But
    # '5550199' must not match the \b555-[0-9]{4}\b phone form either.
    df = spark.createDataFrame([(t,) for t, _, _ in rows], ["t"])
    cols = pii_counts(F.col("t"))
    got = df.select(
        "t", cols["n_emails"].alias("e"), cols["n_phones"].alias("p"), cols["redacted"].alias("r")
    ).collect()
    by_text = {r["t"]: r for r in got}
    for t, e, p in rows:
        if t == "no pii here 5550199 a@b c@d.e":
            assert by_text[t]["e"] == 0 and by_text[t]["p"] == 0, by_text[t]
            continue
        assert (by_text[t]["e"], by_text[t]["p"]) == (e, p), (t, by_text[t])
    assert by_text["both: z9@m.io and 555-1234"]["r"] == "both: <EMAIL> and <PHONE>"


def test_canonical_url_is_idempotent(spark):
    """canonical(canonical(u)) == canonical(u) over randomized URLs —
    a canonicalizer that isn't a fixpoint silently splits dedup groups
    between a raw-ingested and a re-ingested crawl."""
    import random

    from simple_pos_kafka_pyspark_airflow_spark.llm.dedup import canonical_url

    rng = random.Random(99)
    hosts = ["A.com", "b.Example.org", "WWW.X.io:8080"]
    paths = ["", "/", "/p", "/P/q/", "/a/b//"]
    queries = ["", "?id=1", "?utm_x=1", "?id=1&utm_y=2&b=3", "?ref=z", "?utm_a=1&utm_b=2"]
    frags = ["", "#f", "#utm_x=1"]
    schemes = ["http", "https", "HTTP", "HTTPS", "Https"]
    urls = list({
        f"{rng.choice(schemes)}://{rng.choice(hosts)}"
        f"{rng.choice(paths)}{rng.choice(queries)}{rng.choice(frags)}"
        for _ in range(120)
    })
    df = spark.createDataFrame([(u,) for u in urls], ["u"])
    out = df.select(
        canonical_url(F.col("u")).alias("c1"),
        canonical_url(canonical_url(F.col("u"))).alias("c2"),
    ).collect()
    for r in out:
        assert r["c1"] == r["c2"], r


def test_classify_quality_scores_and_gate(spark):
    from simple_pos_kafka_pyspark_airflow_spark.llm.filtering import (
        QUALITY_BIAS,
        QUALITY_WEIGHTS,
        classify_quality,
    )

    docs = spark.createDataFrame(
        [
            (1, "table query JOIN window"),       # 5+4+4+3 + bias
            (2, "slow small a a"),                # -3-2-4-4 + bias
            (3, "zzz qqq unknownword"),           # bias only (no matches)
            (4, ""),                              # empty text -> bias
            (5, "the the the table"),             # -1*3 + 5 + bias
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: (r["score"], r["keep"]) for r in classify_quality(docs).collect()}
    b = QUALITY_BIAS
    assert got[1] == (16 + b, 1)
    assert got[2] == (-13 + b, 0)
    assert got[3] == (b, 1 if b >= 0 else 0)
    assert got[4] == (b, 1 if b >= 0 else 0)
    assert got[5] == (2 + b, 1 if 2 + b >= 0 else 0)
    # repeated tokens weight each occurrence (it's a sum, not a set)
    assert got[5][0] == QUALITY_WEIGHTS["the"] * 3 + QUALITY_WEIGHTS["table"] + b


def _extract_html_text_reference(html, min_words=3, max_link_density=0.5):
    """The HTML extractor as one per-row Column projection over the line
    array (higher-order ``transform``/``filter``): the reference the
    library's row form, ``textops.extract_html_text_rows``, is pinned
    against. The same line segmentation and scoring (``_html_lines``,
    ``_html_line_scored``); returns a struct ``(text, n_lines, n_kept)``."""
    from fractions import Fraction

    from simple_pos_kafka_pyspark_airflow_spark.llm.textops import (
        _html_line_scored,
        _html_lines,
    )

    frac = Fraction(str(max_link_density)).limit_denominator(10**9)

    def line_struct(x):
        vis, keep = _html_line_scored(x, min_words, frac.numerator, frac.denominator)
        return F.struct(vis.alias("t"), keep.alias("k"))

    scored = F.transform(_html_lines(html), line_struct)
    nonempty = F.filter(scored, lambda s: s["t"] != "")
    kept = F.filter(nonempty, lambda s: s["k"])
    return F.struct(
        F.array_join(F.transform(kept, lambda s: s["t"]), "\n").alias("text"),
        F.size(nonempty).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
    )


def test_extract_html_text_edge_cases(spark):
    """Planted extraction behaviors beyond the contract row: each case
    isolates one rule of the C4/jusText-shape extractor. The library's
    row form (``extract_html_text_rows``) must agree with the per-row
    reference case by case, including a NULL ``html`` row, which both
    keep."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.textops import (
        extract_html_text_rows,
    )

    cases = [
        # (html, expected_text, n_lines, n_kept)
        # script/style/title bodies vanish WITH content; comment too
        ("<title>Meta Title Here</title><script>a<b</script>"
         "<style>p{}</style><!-- c --><p>real body text here</p>",
         "real body text here", 1, 1),
        # nav dropped by link density, prose with inline link kept
        ('<div><a href="/">Home</a> <a href="/a">About the site</a></div>'
         '<p>prose with a <a href="/x">small link</a> inside it</p>',
         "prose with a small link inside it", 2, 1),
        # min-words: two-word heading dropped, 3-word line kept
        ("<h1>Two words</h1><p>exactly three words</p>",
         "exactly three words", 2, 1),
        # entities decode ONCE (&amp;lt; -> &lt;, never <) after tag strip
        ("<p>keep A &amp;lt; B &amp; C &lt;tag&gt; &quot;q&quot;&nbsp;&#39;s&#39;</p>",
         "keep A &lt; B & C <tag> \"q\" 's'", 1, 1),
        # uppercase/mixed-case tags segment and strip the same
        ("<P>UPPER case block one</P><BR><p>lower case block two</p>",
         "UPPER case block one\nlower case block two", 2, 2),
        # multiline script body (dotall) and attribute-laden tags
        ('<script type="text/javascript">\nvar a = 1;\n</script>'
         '<p class="x" data-y="1">attrs do not leak words</p>',
         "attrs do not leak words", 1, 1),
        # empty / tags-only input
        ("<div></div><p> </p>", "", 0, 0),
        # NULL html: the row survives with NULL outputs
        (None, None, None, None),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, *_ ) in enumerate(cases)], "i long, html string"
    )
    e = _extract_html_text_reference(F.col("html"))
    got = {
        r["i"]: (r["t"], r["nl"], r["nk"])
        for r in df.select(
            "i", e["text"].alias("t"), e["n_lines"].alias("nl"), e["n_kept"].alias("nk")
        ).collect()
    }
    for i, (_, text, nl, nk) in enumerate(cases):
        assert got[i] == (text, nl, nk), (i, got[i], (text, nl, nk))
    rows = {
        r["i"]: (r["text"], r["n_lines"], r["n_kept"])
        for r in extract_html_text_rows(df, F.col("html"), ["i"]).collect()
    }
    assert rows == got


def test_strip_markup_conservative(spark):
    """strip_markup keeps everything visible (no line rule) — nav text
    survives, script/style/title/comments still vanish."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.textops import strip_markup

    html = ('<title>T</title><script>x</script><style>y</style><!-- z -->'
            '<div><a href="/">Home</a></div><p>body &amp; text</p>')
    df = spark.createDataFrame([(html,)], ["h"])
    out = df.select(strip_markup(F.col("h")).alias("s")).collect()[0]["s"]
    assert out == "Home body & text", out


def test_extract_html_link_density_boundary(spark):
    """The link-density cut is an exact integer cross-multiplication:
    anchor_chars * td <= chars * tn. At max_link_density=0.5 a line whose
    anchor text is exactly half its visible chars is KEPT (<=); one char
    more drops it. Checked on the row form and on the per-row reference."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.textops import (
        extract_html_text_rows,
    )

    # visible "aaaa bb cc" = 10 chars; anchor "aaaa" = 4 -> 8<=10 keep
    keep = '<p><a href="/">aaaa</a> bb cc</p>'
    # visible "aaaaaa bb c" = 11 chars; anchor "aaaaaa" = 6 -> 12>11 drop
    drop = '<p><a href="/">aaaaaa</a> bb c</p>'
    df = spark.createDataFrame([(0, keep), (1, drop)], ["i", "h"])
    e = _extract_html_text_reference(F.col("h"), min_words=3, max_link_density=0.5)
    got = {r["i"]: r["nk"] for r in df.select("i", e["n_kept"].alias("nk")).collect()}
    assert got == {0: 1, 1: 0}, got
    rows = extract_html_text_rows(
        df, F.col("h"), ["i"], min_words=3, max_link_density=0.5
    ).collect()
    assert {r["i"]: r["n_kept"] for r in rows} == got


def test_video_container_roundtrip_and_corrupt(spark):
    """VID0 encode/decode round-trips frame-exactly; malformed containers
    raise ValueError (quarantine contract) and are SKIPPED by the
    sampling UDF, never aborting the job."""
    import pytest as _pytest

    from simple_pos_kafka_pyspark_airflow_spark.llm import multimodal as mm

    frames = [b"frameA", b"", b"frame-C-longer"]
    payload = mm.encode_video(frames)
    assert mm.decode_video_frames(payload) == frames
    for bad in (b"", b"VID0", b"NOPE" + payload[4:], payload[:-3]):
        with _pytest.raises(ValueError):
            mm.decode_video_frames(bad)
    df = spark.createDataFrame(
        [(1, payload), (2, b"garbage"), (3, None)],
        "asset_id long, payload binary",
    )
    out = mm.sample_video_frames(df, n_frames=4).collect()
    assert {r["asset_id"] for r in out} == {1}
    assert sorted(r["frame_idx"] for r in out) == [0, 1, 2]
    got = {r["frame_idx"]: bytes(r["frame"]) for r in out}
    assert got == {0: b"frameA", 1: b"", 2: b"frame-C-longer"}


def test_video_frame_sampling_even_spacing(spark):
    """A longer video than the sample budget yields evenly-spaced frame
    indexes (the ffmpeg fps-filter shape), first frame always included."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import multimodal as mm

    frames = [bytes([i]) * 4 for i in range(10)]
    df = spark.createDataFrame(
        [(7, mm.encode_video(frames))], "asset_id long, payload binary"
    )
    out = mm.sample_video_frames(df, n_frames=4).collect()
    assert sorted(r["frame_idx"] for r in out) == [0, 2, 5, 7]


def test_video_near_dup_perturbation_locality(spark):
    """Edit ONE frame of a copied video: the pair still surfaces on the
    remaining aligned frames (n_frames_matched == 3), and a completely
    different video never pairs."""
    from pyspark.sql import functions as F

    from simple_pos_kafka_pyspark_airflow_spark.llm import multimodal as mm

    text_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame([(1, text_a)], ["doc_id", "text"])
    assets = mm.synthesize_video_assets(docs, n_frames=4)
    rows = {r["asset_id"]: bytes(r["payload"]) for r in assets.collect()}

    # rebuild video 1 with frame 2 replaced by a very different frame;
    # video 2 is structurally different imagery (checkerboard frames —
    # aHash distance from text-byte rasters is large by construction;
    # two TEXT videos can legitimately sit within hamming 3 because
    # space positions dominate tiny ASCII rasters)
    frames = mm.decode_video_frames(rows[1])
    alt = mm.encode_bmp(4, 4, bytes(range(48)))
    frames_edit = frames[:2] + [alt] + frames[3:]
    edited = mm.encode_video(frames_edit)
    checker = bytes(([0] * 24 + [255] * 24) * 4)
    other = mm.encode_video([mm.encode_bmp(8, 8, checker) for _ in range(4)])
    planted = spark.createDataFrame(
        [(1, rows[1]), (2, other), (101, edited)],
        "asset_id long, payload binary",
    )
    pairs = mm.near_dup_videos_framehash(
        planted, n_frames=4, max_hamming=3, min_frames_matched=3
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["n_frames_matched"] for r in pairs}
    assert got == {(1, 101): 3}, got


def test_strip_markdown_edge_cases(spark):
    """Each markdown rule in isolation plus the order-sensitive pair
    (fences first, images before links)."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.textops import strip_markdown

    cases = {
        "# Header One\nbody text": "Header One body text",
        "### Deep header\nmore": "Deep header more",
        "> quoted line\nplain": "quoted line plain",
        "- item a\n* item b\n+ item c\n12. item d": "item a item b item c item d",
        "before\n```\ncode = 1 # not a header\n- not a list\n```\nafter": "before after",
        "inline `kept_code` stays": "inline kept_code stays",
        "a [link text](http://x/y?z=1) b": "a link text b",
        "an ![alt words](/img.png) c": "an alt words c",
        "**bold** and *ital* and __dunder__ and _under_": "bold and ital and dunder and under",
        "up\n---\ndown": "up down",
        "up\n* * *\ndown": "up down",
        "  \n\nspaced   out\t\ttext\n": "spaced out text",
    }
    df = spark.createDataFrame([(i, m) for i, m in enumerate(cases)], ["i", "md"])
    got = {
        r["i"]: r["t"]
        for r in df.select("i", strip_markdown(F.col("md")).alias("t")).collect()
    }
    for i, (md, want) in enumerate(cases.items()):
        assert got[i] == want, (md, got[i], want)


def test_strip_common_lines_order_and_empty(spark):
    """Kept lines return in ORIGINAL order; a fully-boilerplate doc
    stays as an empty row; counting is distinct-doc (a line repeated
    inside ONE doc doesn't strip), group-local (same line in another
    group survives)."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.textops import strip_common_lines

    footer = "copyright acme inc"
    rows = [
        (1, "a", f"zeta body one\n{footer}\nalpha tail one"),
        (2, "a", f"body two\n{footer}"),
        (3, "a", f"{footer}\nbody three"),
        (4, "a", footer),  # fully boilerplate
        # repeated INSIDE one doc only -> distinct-doc count is 1+2=3? no:
        # docs 5 carries it twice, doc 1..none -> nd=1 -> kept
        (5, "a", "echo\necho"),
        # same footer under ANOTHER group, only 1 doc -> kept
        (6, "b", f"other body\n{footer}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_dropped"])
        for r in strip_common_lines(df, min_docs=3).collect()
    }
    assert got[1] == ("zeta body one\nalpha tail one", 1)  # order preserved
    assert got[2] == ("body two", 1)
    assert got[3] == ("body three", 1)
    assert got[4] == ("", 1)
    assert got[5] == ("echo\necho", 0)
    assert got[6] == (f"other body\n{footer}", 0)

    # NULL text (r13, ADVICE): comes back as ('', 0) — the defaulted
    # text and the count must agree, never ('', NULL)
    rows_null = rows + [(7, "a", None)]
    df_null = spark.createDataFrame(rows_null, "doc_id long, source string, text string")
    got_null = {
        r["doc_id"]: (r["text"], r["n_dropped"])
        for r in strip_common_lines(df_null, min_docs=3).collect()
    }
    assert got_null[7] == ("", 0)
    assert got_null[1] == got[1]  # everything else unchanged


def test_strip_common_lines_passes_null_group_docs_through(spark):
    """A document whose group is NULL has no group to count against, so
    nothing in it is common: it comes back untouched with n_dropped 0
    (no key, no claim — the incremental twin's behaviour), even when a
    line repeats across several NULL-group documents. Grouped documents
    are cut as before."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.textops import strip_common_lines

    footer = "copyright acme inc"
    rows = [
        (1, None, f"unique body one\n{footer}"),
        (2, None, f"unique body two\n{footer}"),
        (3, None, f"{footer}\nunique body three"),
        (4, "a", f"a body one\n{footer}"),
        (5, "a", f"a body two\n{footer}"),
        (6, "a", f"{footer}\na body three"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r["doc_id"]: (r["source"], r["text"], r["n_dropped"])
        for r in strip_common_lines(df, min_docs=3).collect()
    }
    assert got == {
        1: (None, f"unique body one\n{footer}", 0),
        2: (None, f"unique body two\n{footer}", 0),
        3: (None, f"{footer}\nunique body three", 0),
        4: ("a", "a body one", 1),
        5: ("a", "a body two", 1),
        6: ("a", "a body three", 1),
    }, got


def test_prefix_and_overlap_plans_are_lazy_by_default(spark):
    """eager_cache defaults to False (r13, ADVICE): constructing the
    jaccard_pairs_prefix / group_overlap_minhash plans must run NO Spark
    job — composing callers keep full laziness. Pinned with a poisoned
    column that raises on any execution: construction succeeds, the
    first action detonates. The bench/contract call sites opt in with
    eager_cache=True (they execute immediately)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from simple_pos_kafka_pyspark_airflow_spark.llm import dedup

    @F.pandas_udf("string")
    def boom(x):
        raise RuntimeError("plan was executed at construction time")

    docs = spark.range(3).select(
        F.col("id").alias("doc_id"),
        F.lit("src").alias("source"),
        boom(F.col("id")).alias("text"),
    )
    pairs = dedup.jaccard_pairs_prefix(docs, "text", "doc_id")  # no job
    overlap = dedup.group_overlap_minhash(docs, "source", "text")  # no job
    with _pytest.raises(Exception):
        pairs.count()
    with _pytest.raises(Exception):
        overlap.count()
    spark.catalog.clearCache()


def test_video_framehash_id_preconditions_enforced(spark):
    """The composite blocking id's assumptions fail LOUDLY (r13, ADVICE):
    a non-integral id column raises at plan construction; an id outside
    [0, 2^59) raises in-plan on execution; and on_oversize='error'
    escalates a capped quarter-block from silent drop to a raise — the
    mode the planted-pair oracle runs under."""
    import pytest as _pytest

    from simple_pos_kafka_pyspark_airflow_spark.llm import dedup, multimodal

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma")], ["doc_id", "text"]
    )
    assets = multimodal.synthesize_video_assets(docs, n_frames=2)

    with _pytest.raises(ValueError, match="integral id column"):
        multimodal.near_dup_videos_framehash(
            assets.withColumn("asset_id", F.col("asset_id").cast("string")),
            n_frames=2,
        )

    with _pytest.raises(Exception, match="2\\^59"):
        multimodal.near_dup_videos_framehash(
            assets.withColumn("asset_id", F.col("asset_id") + F.lit(1 << 60)),
            n_frames=2, min_frames_matched=1,
        ).collect()
    spark.catalog.clearCache()

    # oversize block: 64 identical signatures under a cap of 8
    sigs = spark.range(64).select(
        F.col("id").alias("_id"), F.lit(0).cast("long").alias("_sim")
    )
    with _pytest.raises(Exception, match="max_block"):
        dedup.hamming_pairs_64(sigs, max_block=8, on_oversize="error").collect()
    # default mode still drops silently (corpus-scale contract unchanged)
    assert dedup.hamming_pairs_64(sigs, max_block=8).count() == 0
    with _pytest.raises(ValueError, match="on_oversize"):
        dedup.hamming_pairs_64(sigs, on_oversize="explode")
