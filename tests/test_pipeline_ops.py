"""Training-data pipeline operator tests: dedup, similarity, text,
multimodal (SURVEY §7 M6) over small synthetic documents."""

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": range(8),
            "text": [
                "the quick brown fox jumps over the lazy dog",
                "the quick brown fox jumps over the lazy cat",   # near-dup of 0
                "the quick brown fox jumps over the lazy dog",   # exact dup of 0
                "completely different content about spark sql engines",
                "Der schnelle braune Fuchs und der faule Hund",
                "le renard brun rapide et le chien paresseux et la",
                "short",
                "the quick brown fox jumps over the lazy dog today",  # near-dup
            ],
        }
    )
    return spark.createDataFrame(pdf).repartition(3)


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.14, 0.0]),   # ~cos 0.99 with 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
        (4, [0.7, 0.7, 0.14]),
    ]
    return spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")


# ------------------------- dedup ------------------------- #
def test_exact_duplicates(docs):
    from dask_sql_spark.operators.dedup import drop_exact_duplicates, exact_duplicates

    groups = exact_duplicates(docs).collect()
    dupes = [g for g in groups if g.n_copies > 1]
    assert len(dupes) == 1 and dupes[0].keeper_id == 0 and dupes[0].n_copies == 2
    kept = drop_exact_duplicates(docs)
    assert kept.count() == 7
    assert kept.where(F.col("doc_id") == 2).count() == 0


def test_ngram_jaccard_finds_near_dups(docs):
    from dask_sql_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert (0, 2) in pairs and pairs[(0, 2)] == 1.0  # exact dup
    assert (0, 1) in pairs  # one-word difference
    assert all(not (a == 3 or b == 3) for a, b in pairs)  # unrelated doc


def test_minhash_lsh_candidates(docs):
    from dask_sql_spark.operators.dedup import minhash_lsh_pairs

    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, num_perm=16, bands=8).collect()
    }
    assert (0, 2) in pairs  # identical text always collides
    assert all(not (a == 3 or b == 3) for a, b in pairs)


def test_minhash_matches_bruteforce_jaccard(docs):
    # LSH candidates with high bands (8 bands of 2 rows) must include every
    # pair with jaccard >= ~0.5 on this tiny corpus
    from dask_sql_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    true_pairs = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.6).collect()
    }
    cands = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, num_perm=16, bands=8).collect()
    }
    assert true_pairs <= cands


def test_minhash_band_partitions_same_pairs(docs):
    """The sized repartition(n, band, bucket) scale knob (SCALING.md r7
    A/B) must be plan-only: identical candidate pairs at any partition
    count, including a hostile odd one."""
    from dask_sql_spark.operators.dedup import minhash_lsh_pairs

    base = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, num_perm=16, bands=8).collect()
    }
    for n in (1, 7):
        got = {
            (r.id_a, r.id_b)
            for r in minhash_lsh_pairs(
                docs, num_perm=16, bands=8, band_partitions=n
            ).collect()
        }
        assert got == base


def test_simhash_hamming(docs):
    from dask_sql_spark.operators.dedup import simhash, simhash_pairs

    sh = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert sh[0] == sh[2]  # identical docs → identical simhash
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(docs, max_hamming=6).collect()}
    assert pairs[(0, 2)] == 0


def test_simhash_full_width_64(docs):
    """Round-10 (verdict #2): the SCALING.md >=64-bit deployment rule is
    executable — bits=64 used to overflow on the F.lit(1 << 63) literal.
    The token hash is 60-bit, so the 64-bit fingerprint equals the
    60-bit one (bits 60-63 deterministically 0) and stays non-negative;
    widths beyond the BIGINT pack are rejected."""
    import pytest

    from dask_sql_spark.operators.dedup import simhash

    sh64 = {r.doc_id: r.simhash for r in simhash(docs, bits=64).collect()}
    sh60 = {r.doc_id: r.simhash for r in simhash(docs, bits=60).collect()}
    assert sh64 == sh60
    assert all(v >= 0 for v in sh64.values())
    with pytest.raises(ValueError, match=r"\[1, 64\]"):
        simhash(docs, bits=65)


def test_embedding_near_dupes(emb):
    from dask_sql_spark.operators.dedup import embedding_near_dupes

    pairs = {(r.id_a, r.id_b) for r in embedding_near_dupes(emb, threshold=0.95).collect()}
    assert pairs == {(0, 1)}


# ------------------------- similarity ------------------------- #
def test_brute_force_topk(emb):
    from dask_sql_spark.operators.similarity import brute_force_topk

    res = brute_force_topk(emb, emb.where(F.col("vec_id") == 0), k=2).collect()
    ranked = sorted(((r.rank, r.neighbor_id) for r in res))
    assert ranked[0] == (1, 1)  # nearest neighbour of 0 is 1


def test_lsh_topk_recovers_close_neighbor(emb):
    from dask_sql_spark.operators.similarity import lsh_topk

    res = lsh_topk(
        emb, emb.where(F.col("vec_id") == 0), k=2, n_planes=4
    ).collect()
    assert any(r.neighbor_id == 1 for r in res)


# ------------------------- text ------------------------- #
def test_token_stats(docs):
    from dask_sql_spark.operators.text import add_token_stats

    rows = {r.doc_id: r for r in add_token_stats(docs).collect()}
    assert rows[0].n_tokens == 9
    assert rows[6].n_tokens == 1


def test_quality_score(docs):
    from dask_sql_spark.operators.text import add_quality_score

    rows = {r.doc_id: r for r in add_quality_score(docs).collect()}
    assert rows[0].stopword_ratio > 0  # 'the' twice / 9 tokens
    assert rows[0].digit_ratio == 0.0
    assert rows[0].mean_word_len > 3


def test_langid(docs):
    from dask_sql_spark.operators.text import add_langid

    rows = {r.doc_id: r.lang_guess for r in add_langid(docs).collect()}
    assert rows[0] == "en" and rows[4] == "de" and rows[5] == "fr"


def test_fingerprint_clusters_word_permutations(spark):
    from dask_sql_spark.operators.text import add_fingerprint

    pdf = pd.DataFrame(
        {"doc_id": [0, 1, 2], "text": ["alpha beta gamma", "Gamma, beta alpha!", "delta"]}
    )
    rows = {r.doc_id: r.fp for r in add_fingerprint(spark.createDataFrame(pdf)).collect()}
    assert rows[0] == rows[1] != rows[2]


# ------------------------- multimodal ------------------------- #
def test_multimodal_plumbing(docs):
    from dask_sql_spark.operators.multimodal import (
        attach_binary,
        extract_image_meta,
    )

    with_bin = attach_binary(docs, "text")
    meta = extract_image_meta(with_bin, fake=True)
    rows = {r.doc_id: r for r in meta.collect()}
    assert rows[0].byte_len == len("the quick brown fox jumps over the lazy dog")
    assert rows[0].sha1 == rows[2].sha1  # identical payloads
    assert 16 <= rows[0].width < 256 and 1 <= rows[0].channels <= 4


def test_decode_unknown_format_raises():
    from dask_sql_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"not an image", fake=False)


def _png_bytes(w: int, h: int, color_type: int = 6) -> bytes:
    import struct

    ihdr = struct.pack(">II", w, h) + bytes([8, color_type, 0, 0, 0])
    return b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR" + ihdr


def _jpeg_bytes(w: int, h: int, channels: int = 3) -> bytes:
    import struct

    # SOI + APP0 (JFIF) + SOF0
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + bytes(9)
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * channels, 8, h, w, channels)
    return b"\xff\xd8" + app0 + sof0 + bytes(3 * channels)


def test_decode_real_headers():
    """Header parsing decodes real PNG/JPEG/GIF payload bytes without any
    codec dependency (no fake= needed)."""
    from dask_sql_spark.operators.multimodal import decode_image

    w, h, c, _ = decode_image(_png_bytes(640, 480, color_type=2), fake=False)
    assert (w, h, c) == (640, 480, 3)
    w, h, c, _ = decode_image(_png_bytes(31, 7, color_type=0), fake=False)
    assert (w, h, c) == (31, 7, 1)
    w, h, c, _ = decode_image(_jpeg_bytes(1920, 1080), fake=False)
    assert (w, h, c) == (1920, 1080, 3)
    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little")
    w, h, c, _ = decode_image(gif, fake=False)
    assert (w, h, c) == (320, 200, 3)


def test_extract_image_meta_real_payloads(spark):
    """The mapInPandas pipeline runs on genuine image bytes end-to-end."""
    import pandas as pd

    from dask_sql_spark.operators.multimodal import extract_image_meta

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "payload": [_png_bytes(100, 50, 2), _jpeg_bytes(64, 32)],
        }
    )
    meta = extract_image_meta(spark.createDataFrame(pdf), fake=False)
    rows = {r.doc_id: r for r in meta.collect()}
    assert (rows[0].width, rows[0].height, rows[0].channels) == (100, 50, 3)
    assert (rows[1].width, rows[1].height, rows[1].channels) == (64, 32, 3)


def test_ivf_topk_recall(spark):
    import numpy as np

    from dask_sql_spark.operators.similarity import brute_force_topk, ivf_topk

    rng = np.random.RandomState(0)
    # 10 clusters of 20 vectors each in 8-d
    centers = rng.standard_normal((10, 8)) * 5
    rows = []
    for i in range(200):
        v = centers[i % 10] + rng.standard_normal(8) * 0.1
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    from pyspark.sql import functions as F

    queries = emb.where(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, queries, k=5, n_cells=10, n_probe=3).collect()
    }
    # clustered data: probing 3/10 cells should recover nearly all true
    # neighbors (same-cluster vectors dominate top-5)
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9


def test_ivf_index_lifecycle_matches_in_memory(spark, tmp_path):
    """Round-10 verdict #1, pinned: a persistent ivf_build_index +
    ivf_search round-trip is bitwise identical to the in-memory
    ivf_topk on the same fixed codebook (doubles roundtrip parquet
    exactly), and the index holds every corpus row exactly once."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_sql_spark.operators.similarity import (
        ivf_build_index,
        ivf_search,
        ivf_topk,
    )

    rng = np.random.RandomState(7)
    rows = [
        (i, [float(x) for x in rng.standard_normal(8)]) for i in range(120)
    ]
    emb = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    cents = emb.where(F.col("vec_id") < 6).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("centroid"),
    )
    idx = str(tmp_path / "ivf_idx")
    ivf_build_index(emb, idx, n_cells=6, centroids=cents)
    corpus = spark.read.parquet(f"{idx}/corpus")
    assert corpus.count() == 120  # every vector in exactly one cell
    assert corpus.select("id_b").distinct().count() == 120
    queries = emb.where(F.col("vec_id") < 4)
    got = sorted(
        map(tuple, ivf_search(spark, idx, queries, k=5, n_probe=2).collect())
    )
    want = sorted(
        map(
            tuple,
            ivf_topk(
                emb, queries, k=5, n_cells=6, n_probe=2, centroids=cents
            ).collect(),
        )
    )
    assert got == want


def test_ivf_insert_matches_full_build(spark, tmp_path):
    """Round-12 (r11 verdict #7): building from a subset then
    ivf_insert-ing the remainder is bitwise identical to one full build
    — same cell per vector (persisted-codebook assignment), appended
    files visible to the partition-pruned search, resident rows intact."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_sql_spark.operators.similarity import (
        ivf_build_index,
        ivf_insert,
        ivf_search,
    )

    rng = np.random.RandomState(11)
    rows = [
        (i, [float(x) for x in rng.standard_normal(8)]) for i in range(120)
    ]
    emb = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    cents = emb.where(F.col("vec_id") < 6).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("centroid"),
    )
    full = str(tmp_path / "ivf_full")
    ivf_build_index(emb, full, n_cells=6, centroids=cents)
    inc = str(tmp_path / "ivf_inc")
    ivf_build_index(
        emb.where(F.col("vec_id") % 5 != 2), inc, n_cells=6, centroids=cents
    )
    ivf_insert(emb.where(F.col("vec_id") % 5 == 2), inc, check_ids=True)
    # identical (id -> cell) assignment and no lost/duplicated rows
    a = sorted(
        map(
            tuple,
            spark.read.parquet(f"{full}/corpus").select("id_b", "cell").collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            spark.read.parquet(f"{inc}/corpus").select("id_b", "cell").collect(),
        )
    )
    assert a == b
    queries = emb.where(F.col("vec_id") < 4)
    got_full = sorted(
        map(tuple, ivf_search(spark, full, queries, k=5, n_probe=2).collect())
    )
    got_inc = sorted(
        map(tuple, ivf_search(spark, inc, queries, k=5, n_probe=2).collect())
    )
    assert got_full == got_inc
    # contract checks: intra-batch dup and resident-id collision
    import pytest as _pytest

    dup_batch = spark.createDataFrame(
        [(999, [0.0] * 8), (999, [1.0] * 8)], "vec_id INT, embedding ARRAY<DOUBLE>"
    )
    with _pytest.raises(ValueError, match="unique within the batch"):
        ivf_insert(dup_batch, inc)
    resident = spark.createDataFrame(
        [(2, [0.5] * 8)], "vec_id INT, embedding ARRAY<DOUBLE>"
    )
    with _pytest.raises(ValueError, match="already present"):
        ivf_insert(resident, inc, check_ids=True)


def test_ivf_build_index_rejects_duplicate_ids(spark, tmp_path):
    """Round-12 advice: the assignment rejoins the winning cell by id,
    so a duplicated id would break the one-cell-per-row invariant —
    build fails loudly instead of persisting a corrupt index."""
    import pytest as _pytest

    from dask_sql_spark.operators.similarity import ivf_build_index

    emb = spark.createDataFrame(
        [(1, [0.0] * 4), (1, [1.0] * 4), (2, [2.0] * 4)],
        "vec_id INT, embedding ARRAY<DOUBLE>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0] * 4)], "cell INT, centroid ARRAY<DOUBLE>"
    )
    with _pytest.raises(ValueError, match="must be unique"):
        ivf_build_index(
            emb, str(tmp_path / "dup"), n_cells=1, centroids=cents
        )


def test_ivf_build_index_kmeans_codebook(spark, tmp_path):
    """KMeans-trained build path: index is servable and recalls the
    clustered structure (same bound as test_ivf_topk_recall)."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_sql_spark.operators.similarity import (
        brute_force_topk,
        ivf_build_index,
        ivf_search,
    )

    rng = np.random.RandomState(0)
    centers = rng.standard_normal((10, 8)) * 5
    rows = []
    for i in range(200):
        v = centers[i % 10] + rng.standard_normal(8) * 0.1
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    idx = str(tmp_path / "ivf_km")
    ivf_build_index(emb, idx, n_cells=10, seed=42)
    queries = emb.where(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_search(spark, idx, queries, k=5, n_probe=3).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.9


def test_clean_corpus_pipeline(docs):
    from dask_sql_spark.operators.pipeline import clean_corpus

    out = clean_corpus(
        docs, min_tokens=5, max_stopword_ratio=0.9, lang=None,
        num_perm=16, bands=8,
    )
    rows = {r.doc_id for r in out.collect()}
    # exact dup 2 and near-dups 1/7 of doc 0 drop; 'short' fails the token
    # minimum; the distinct en/de/fr docs survive
    assert {0, 3, 4, 5} <= rows
    assert 2 not in rows and 1 not in rows and 7 not in rows
    assert 6 not in rows


def _wav_bytes(rate=16000, channels=1, bits=16, seconds=2) -> bytes:
    import struct

    data_size = rate * channels * (bits // 8) * seconds
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * bits // 8,
                      channels * bits // 8, bits)
    return (b"RIFF" + struct.pack("<I", 36 + data_size) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", data_size) + bytes(16))  # truncated body


def test_audio_meta_real_wav_header(spark):
    import pandas as pd

    from dask_sql_spark.operators.multimodal import extract_audio_meta, parse_wav_header

    assert parse_wav_header(b"not audio") is None
    assert parse_wav_header(_wav_bytes(44100, 2, 16, 3)) == (44100, 2, 16, 3000)

    pdf = pd.DataFrame(
        {"doc_id": [0, 1], "payload": [_wav_bytes(8000, 1, 8, 1), b"junk"]}
    )
    rows = {r.doc_id: r for r in extract_audio_meta(spark.createDataFrame(pdf)).collect()}
    assert (rows[0].sample_rate, rows[0].channels, rows[0].bits_per_sample,
            rows[0].duration_ms) == (8000, 1, 8, 1000)
    assert rows[1].sample_rate is None and rows[1].byte_len == 4


def test_video_frame_sampling_plumbing(spark):
    import pandas as pd

    from dask_sql_spark.operators.multimodal import sample_video_frames

    pdf = pd.DataFrame({"doc_id": [5], "payload": [b"fake video bytes"]})
    frames = sample_video_frames(
        spark.createDataFrame(pdf), every_ms=500, fake_duration_ms=2200
    ).collect()
    assert [(r.frame_idx, r.frame_ts_ms) for r in sorted(frames, key=lambda r: r.frame_idx)] == [
        (0, 0), (1, 500), (2, 1000), (3, 1500), (4, 2000)
    ]
    assert all(r.doc_id == 5 for r in frames)


def _mp4_bytes(timescale: int, duration: int, version: int = 0) -> bytes:
    """Minimal valid ISO-BMFF: ftyp box + moov box containing an mvhd."""
    ftyp = b"\x00\x00\x00\x10ftypisom\x00\x00\x02\x00"
    if version == 0:
        body = (
            b"\x00\x00\x00\x00"  # version 0 + flags
            + (0).to_bytes(4, "big") * 2  # ctime, mtime
            + timescale.to_bytes(4, "big")
            + duration.to_bytes(4, "big")
            + b"\x00" * 80  # rate/volume/matrix/next_track padding
        )
    else:
        body = (
            b"\x01\x00\x00\x00"
            + (0).to_bytes(8, "big") * 2
            + timescale.to_bytes(4, "big")
            + duration.to_bytes(8, "big")
            + b"\x00" * 80
        )
    mvhd = (len(body) + 8).to_bytes(4, "big") + b"mvhd" + body
    moov = (len(mvhd) + 8).to_bytes(4, "big") + b"moov" + mvhd
    return ftyp + moov


def test_mp4_mvhd_duration_parse(spark):
    import pandas as pd

    from dask_sql_spark.operators.multimodal import (
        extract_video_meta,
        parse_mp4_duration,
        sample_video_frames,
    )

    # 90k-tick timescale, 270000 ticks = 3.0s; both mvhd versions
    assert parse_mp4_duration(_mp4_bytes(90000, 270000)) == 3000
    assert parse_mp4_duration(_mp4_bytes(600, 1500, version=1)) == 2500
    assert parse_mp4_duration(b"not a video at all") is None
    assert parse_mp4_duration(_mp4_bytes(0, 100)) is None  # zero timescale

    pdf = pd.DataFrame(
        {"doc_id": [0, 1], "payload": [_mp4_bytes(1000, 4500), b"junk-bytes"]}
    )
    rows = {
        r.doc_id: r
        for r in extract_video_meta(spark.createDataFrame(pdf)).collect()
    }
    assert rows[0].duration_ms == 4500 and rows[0].is_bmff
    assert rows[1].duration_ms is None and not rows[1].is_bmff

    # frame sampling uses the REAL header duration when the payload parses
    frames = sample_video_frames(
        spark.createDataFrame(pdf[pdf.doc_id == 0]), every_ms=1000
    ).collect()
    assert [r.frame_ts_ms for r in sorted(frames, key=lambda r: r.frame_idx)] == [
        0, 1000, 2000, 3000, 4000
    ]


def test_embedding_dim_probe_cached(spark, monkeypatch):
    """Plan-construction paths must not launch a job per call: the dim
    probe is explicit-kwarg > column metadata > ONE memoized first()."""
    from pyspark.sql import types as T

    from dask_sql_spark.operators import similarity as S

    df = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.3])], "vec_id INT, embedding ARRAY<DOUBLE>"
    )
    S._DIM_CACHE.clear()
    calls = {"n": 0}
    real_first = type(df).first

    def counting_first(self):
        calls["n"] += 1
        return real_first(self)

    monkeypatch.setattr(type(df), "first", counting_first)

    assert S.embedding_dim(df, "embedding", dim=7) == 7
    assert calls["n"] == 0  # explicit kwarg: no job

    meta_df = spark.createDataFrame(
        [(1, [0.1, 0.2])],
        T.StructType(
            [
                T.StructField("vec_id", T.IntegerType()),
                T.StructField(
                    "embedding",
                    T.ArrayType(T.DoubleType()),
                    metadata={"dim": 2},
                ),
            ]
        ),
    )
    assert S.embedding_dim(meta_df, "embedding") == 2
    assert calls["n"] == 0  # schema metadata: no job

    assert S.embedding_dim(df, "embedding") == 3
    assert S.embedding_dim(df, "embedding") == 3
    assert calls["n"] == 1  # probe ran once, then semanticHash cache hits


def test_embedding_lsh_near_dupes_recall(spark):
    """The LSH-bucketed scale path recovers the pairs the exact kernel
    finds on clustered vectors (multiprobe: >=80% recall by construction;
    on this tight-cluster fixture it should be complete)."""
    import numpy as np

    from dask_sql_spark.operators.dedup import embedding_near_dupes
    from dask_sql_spark.operators.similarity import embedding_near_dupes_lsh

    rng = np.random.RandomState(7)
    rows = []
    vid = 0
    for c in range(6):
        center = rng.standard_normal(16) * 3
        for _ in range(5):  # 5 near-identical vectors per cluster
            rows.append((vid, [float(x) for x in center + rng.standard_normal(16) * 0.01]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    exact = {
        (r.id_a, r.id_b)
        for r in embedding_near_dupes(emb, threshold=0.99, block_size=16).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in embedding_near_dupes_lsh(emb, threshold=0.99, n_planes=6).collect()
    }
    assert exact, "fixture must produce near-dup pairs"
    assert lsh <= exact or all(p in exact for p in lsh)  # no false positives vs exact
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.8, f"recall {recall} below multiprobe bound"


def test_signature_col_matches_numpy_sign_model(spark):
    """signature_col bit j is set iff the sequential dot of the vector
    with plane j is > 0 — checked against a numpy model that replays the
    same left fold in IEEE doubles."""
    import numpy as np

    from dask_sql_spark.operators.similarity import _hyperplanes, signature_col

    rng = np.random.RandomState(3)
    vecs = rng.standard_normal((40, 16))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "id LONG, v ARRAY<DOUBLE>",
    )
    planes = _hyperplanes(16, 6, seed=42)

    def model(v):
        sig = 0
        for j, p in enumerate(planes):
            acc = 0.0
            for x, y in zip(v, p):
                acc = acc + float(x) * float(y)
            sig |= (acc > 0) << j
        return sig

    got = {
        r.id: r.sig
        for r in df.withColumn("sig", signature_col("v", planes)).collect()
    }
    assert got == {i: model(v) for i, v in enumerate(vecs)}
    assert len(set(got.values())) > 1  # planes actually split the data
    with pytest.raises(ValueError):
        signature_col("v", np.array([[1.0, float("inf")]]))


def test_embedding_lsh_kernel_parity(spark):
    """kernel="fold" (Catalyst cosine, the oracle-replayable path) and
    kernel="blas" (numpy matmul, the throughput path) must emit the SAME
    pair set — they share bucketing/multiprobe and differ only in float
    summation order, which cannot flip pairs away from the threshold
    boundary on this fixture."""
    import numpy as np

    from dask_sql_spark.operators.similarity import embedding_near_dupes_lsh

    rng = np.random.RandomState(11)
    rows = []
    vid = 0
    for c in range(4):
        center = rng.standard_normal(16) * 3
        for _ in range(4):
            rows.append(
                (vid, [float(x) for x in center + rng.standard_normal(16) * 0.01])
            )
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    blas = {
        (r.id_a, r.id_b)
        for r in embedding_near_dupes_lsh(
            emb, threshold=0.99, n_planes=6, kernel="blas"
        ).collect()
    }
    fold = {
        (r.id_a, r.id_b)
        for r in embedding_near_dupes_lsh(
            emb, threshold=0.99, n_planes=6, kernel="fold"
        ).collect()
    }
    assert blas, "fixture must produce pairs"
    assert blas == fold


def test_connected_components_handcrafted(spark):
    """Chain 1-2-3, triangle 10-11-12 (+cross edge), isolated pair 20-21:
    every vertex labels with its component's min id."""
    from dask_sql_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a LONG, id_b LONG",
    )
    comp = {r.id: r.comp for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_dedup_clusters_keepers(spark, docs):
    from dask_sql_spark.operators.dedup import minhash_lsh_pairs
    from dask_sql_spark.operators.graph import dedup_clusters

    pairs = minhash_lsh_pairs(docs, num_perm=16, bands=8)
    out = {r.id: (r.keeper_id, r.is_keeper) for r in dedup_clusters(pairs, docs).collect()}
    assert out[2] == (0, False)   # exact dup of doc 0 → keeper 0
    assert out[0] == (0, True)
    assert out[3] == (3, True)    # unrelated doc keeps itself
    assert len(out) == 8          # every document labeled


def test_pack_documents_budget_semantics(spark):
    """Streaming first-fit: pack = window the doc's FIRST token falls in;
    a straddler may overflow its pack by less than one doc."""
    import pandas as pd

    from dask_sql_spark.operators.llmprep import pack_documents

    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3, 4], "text": ["a b c", "d e", "f g h i", "j"]}
    )  # token counts 3, 2, 4, 1; budget 4 → offsets 0,3,5,9 → packs 0,0,1,2
    out = {r.doc_id: (r.pack_id, r.pack_offset)
           for r in pack_documents(spark.createDataFrame(pdf), max_tokens=4).collect()}
    assert out == {1: (0, 0), 2: (0, 3), 3: (1, 5), 4: (2, 9)}


def test_pack_documents_rejects_nonpositive_budget(spark):
    """max_tokens <= 0 raises up front instead of a NULL/divide-by-zero
    pack_id downstream (round-9 audit guard)."""
    import pandas as pd
    import pytest as _pytest

    from dask_sql_spark.operators.llmprep import pack_documents

    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["a"]}))
    with _pytest.raises(ValueError, match="max_tokens"):
        pack_documents(df, max_tokens=0)


def test_pack_documents_sharded_parallel_form(spark):
    """shards=N packs per deterministic hash sub-shard: every pack still
    fills in id order within its shard and respects the budget (one
    straddler allowed), pack ids are globally unique across shards, and
    the assignment is deterministic run to run."""
    import pandas as pd

    from dask_sql_spark.operators.llmprep import pack_documents

    pdf = pd.DataFrame(
        {
            "doc_id": list(range(1, 41)),
            "text": [" ".join(["w"] * (1 + i % 5)) for i in range(40)],
        }
    )
    df = spark.createDataFrame(pdf)
    out = pack_documents(df, max_tokens=6, shards=4)
    rows = out.collect()
    again = {r.doc_id: (r.pack_id, r.pack_offset) for r in out.collect()}
    assert {r.doc_id: (r.pack_id, r.pack_offset) for r in rows} == again

    # per pack: docs fill in id order, first token inside the budget
    by_pack: dict = {}
    for r in rows:
        by_pack.setdefault(r.pack_id, []).append(r)
    for pack, members in by_pack.items():
        members.sort(key=lambda r: r.pack_offset)
        ids = [m.doc_id for m in members]
        assert ids == sorted(ids)
        base = min(m.pack_offset for m in members)
        for m in members:
            assert (m.pack_offset - base) < 6 or m is members[0]
    # shards partition the id space: pack ids from different shards
    # occupy disjoint 2^40 bands
    bands = {r.pack_id >> 40 for r in rows}
    assert len(bands) > 1  # 40 docs over 4 hash shards: several used


def test_chunk_documents_overlap(spark):
    import pandas as pd

    from dask_sql_spark.operators.llmprep import chunk_documents

    pdf = pd.DataFrame({"doc_id": [1], "text": ["t0 t1 t2 t3 t4 t5 t6"]})
    rows = sorted(
        (r.chunk_idx, r.chunk_text, r.chunk_len)
        for r in chunk_documents(
            spark.createDataFrame(pdf), chunk_tokens=4, overlap=2
        ).collect()
    )
    # stride 2: starts 0,2,4,6 → windows of ≤4 tokens each
    assert rows == [
        (0, "t0 t1 t2 t3", 4),
        (1, "t2 t3 t4 t5", 4),
        (2, "t4 t5 t6", 3),
        (3, "t6", 1),
    ]


def test_chunk_documents_rejects_bad_overlap(spark):
    import pytest as _pytest

    from dask_sql_spark.operators.llmprep import chunk_documents

    with _pytest.raises(ValueError):
        chunk_documents(None, chunk_tokens=4, overlap=4)


def test_redact_pii(spark):
    import pandas as pd

    from dask_sql_spark.operators.text import redact_pii

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [
                "mail me at jane.doe@example.com or call 555-123-4567 from 10.0.0.1",
                "no sensitive content here",
            ],
        }
    )
    rows = {r.doc_id: r for r in redact_pii(spark.createDataFrame(pdf)).collect()}
    assert rows[1].n_pii == 3
    red = rows[1].text_redacted
    assert "example.com" not in red and "555" not in red and "10.0.0.1" not in red
    assert red.count("[PII]") == 3
    assert rows[2].n_pii == 0 and rows[2].text_redacted == pdf.text[1]


def test_contaminated_docs(spark):
    import pandas as pd

    from dask_sql_spark.operators.text import contaminated_docs

    corpus = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2],
        "text": [
            "the quick brown fox jumps over the lazy dog",
            "unrelated corpus text entirely",
        ],
    }))
    bench = spark.createDataFrame(pd.DataFrame({
        "doc_id": [100],
        "text": ["quick brown fox jumps high"],
    }))
    hits = {(r.doc_id, r.bench_id): r.n_shared
            for r in contaminated_docs(corpus, bench, n=3, min_hits=1).collect()}
    assert (1, 100) in hits and hits[(1, 100)] == 2  # 2 shared 3-grams
    assert not any(d == 2 for d, _ in hits)


def test_funnel_steps_ordering(spark):
    """Funnel requires strict temporal order: view BEFORE click must not
    count as step 2."""
    import pandas as pd

    from dask_sql_spark.operators.events import funnel_steps

    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 2, 2, 3],
            "event_type": ["click", "view", "buy", "view", "click", "click"],
            "ts": pd.to_datetime(
                ["2024-01-01 10:00", "2024-01-01 10:05", "2024-01-01 10:10",
                 "2024-01-01 09:00", "2024-01-01 09:30", "2024-01-01 08:00"]
            ).astype("datetime64[us]"),
        }
    )
    out = {
        r.user_id: r.funnel_depth
        for r in funnel_steps(
            spark.createDataFrame(pdf), ["click", "view", "buy"]
        ).collect()
    }
    assert out == {1: 3, 2: 1, 3: 1}  # user 2's view precedes the click


def test_retention_cohorts_counts(spark):
    import pandas as pd

    from dask_sql_spark.operators.events import retention_cohorts

    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 2],
            "ts": pd.to_datetime(
                ["2024-01-01", "2024-01-09", "2024-01-02"]
            ).astype("datetime64[us]"),
        }
    )
    rows = {
        (r.cohort_period, r.periods_later): r.n_users
        for r in retention_cohorts(spark.createDataFrame(pdf), period_days=7).collect()
    }
    # both users in the same weekly cohort at offset 0; user 1 returns 1 period later
    assert rows[(min(k[0] for k in rows), 0)] == 2
    assert rows[(min(k[0] for k in rows), 1)] == 1


def test_deterministic_sample_stability(spark, docs):
    from dask_sql_spark.operators.llmprep import deterministic_sample

    a = {r.doc_id for r in deterministic_sample(docs, 0.5).collect()}
    b = {r.doc_id for r in deterministic_sample(docs, 0.5).collect()}
    assert a == b  # same rows every run, no RNG
    # monotone in fraction: a bigger fraction is a superset
    big = {r.doc_id for r in deterministic_sample(docs, 0.9).collect()}
    assert a <= big
    # different salt draws an independent stream
    other = {r.doc_id for r in deterministic_sample(docs, 0.5, salt="x").collect()}
    assert deterministic_sample(docs, 0.0).count() == 0
    assert deterministic_sample(docs, 1.0).count() == docs.count()
    assert other != a or len(a) == 0


def test_mix_corpora_tags_sources(spark, docs):
    from dask_sql_spark.operators.llmprep import mix_corpora

    out = mix_corpora([(docs, 1.0), (docs, 1.0)]).collect()
    assert {r.source_id for r in out} == {0, 1}
    assert len(out) == 2 * docs.count()


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing guarantee: a shared substring of length >= k + window - 1
    produces at least one shared fingerprint; unrelated docs share none."""
    import pandas as pd

    from dask_sql_spark.operators.text import winnow_fingerprints

    shared = "the identical stolen passage appears here"
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "intro words before " + shared + " and a tail",
                "completely other opening " + shared,
                "nothing in common with either document at all zzz",
            ],
        }
    )
    fps = winnow_fingerprints(spark.createDataFrame(pdf), k=8, window=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[1] & by_doc[2], "shared passage must share a fingerprint"
    assert not (by_doc[1] & by_doc[3] & by_doc[2])
    # selectivity: far fewer fingerprints than k-grams
    assert len(by_doc[1]) < len(pdf.text[0]) - 8


def test_sessionize_gap_boundary(spark):
    import datetime as dt

    import pandas as pd

    from dask_sql_spark.operators.events import sessionize

    t0 = dt.datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 1, 2],
            "ts": [
                t0,
                t0 + dt.timedelta(seconds=1800),   # gap == threshold → same session
                t0 + dt.timedelta(seconds=3601),   # gap 1801s → new session
                t0 + dt.timedelta(seconds=3700),
                t0,
            ],
            "event_type": ["a"] * 5,
        }
    )
    out = (
        sessionize(spark.createDataFrame(pdf), gap_seconds=1800)
        .toPandas()
        .sort_values(["user_id", "session_seq"])
        .reset_index(drop=True)
    )
    assert out[out.user_id == 1].n_events.tolist() == [2, 2]
    assert out[out.user_id == 2].n_events.tolist() == [1]
    assert out.loc[0, "duration_secs"] == 1800.0


def test_event_transitions_terminal_null(spark):
    import datetime as dt

    import pandas as pd

    from dask_sql_spark.operators.events import event_transitions

    t0 = dt.datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 2],
            "ts": [t0 + dt.timedelta(seconds=i) for i in range(3)] + [t0],
            "event_type": ["click", "view", "purchase", "click"],
        }
    )
    out = event_transitions(spark.createDataFrame(pdf)).toPandas()
    edges = {
        (r.from_type, r.to_type if isinstance(r.to_type, str) else None): r.n
        for r in out.itertuples()
    }
    assert edges[("click", "view")] == 1
    assert edges[("view", "purchase")] == 1
    assert edges[("purchase", None)] == 1
    assert edges[("click", None)] == 1
    # out-degree of each type == its event count
    assert sum(n for (f, _), n in edges.items() if f == "click") == 2


def test_repetition_signals_flags_repeats(spark):
    import pandas as pd

    from dask_sql_spark.operators.text import repetition_signals

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "spam spam spam spam",            # maximal repetition
                "all four tokens differ",          # no repetition
                "one",                             # single token → no bigrams
            ],
        }
    )
    out = (
        repetition_signals(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[1, "dup_token_frac"] == 0.75
    assert out.loc[1, "top_token_frac"] == 1.0
    assert out.loc[1, "dup_bigram_frac"] == pytest.approx(2 / 3)
    assert out.loc[2, "dup_token_frac"] == 0.0
    assert out.loc[2, "top_token_frac"] == 0.25
    assert out.loc[3, "dup_bigram_frac"] == 0.0


def test_tfidf_top_terms_ranks_rare_terms(spark):
    import pandas as pd

    from dask_sql_spark.operators.text import tfidf_top_terms

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "common rare1 common common",
                "common other words here",
                "common more common filler",
            ],
        }
    )
    out = tfidf_top_terms(spark.createDataFrame(pdf), k=2).toPandas()
    top1 = out[(out.doc_id == 1) & (out["rank"] == 1)].iloc[0]
    # 'rare1' (df=1) must outrank 'common' (df=3) despite lower tf
    assert top1.term == "rare1"
    assert (out.groupby("doc_id")["rank"].max() <= 2).all()


def test_span_dedup_removes_repeated_spans(spark):
    import pandas as pd

    from dask_sql_spark.operators.dedup import span_dedup

    boiler = "all rights reserved contact us"  # 5 tokens < width → 1 chunk
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [boiler, boiler + " plus unique trailing content here"],
        }
    )
    out = (
        span_dedup(spark.createDataFrame(pdf), width=5)
        .toPandas()
        .set_index("doc_id")
    )
    # doc 1 owns the boilerplate span (first occurrence)
    assert out.loc[1, "clean_text"] == boiler
    # doc 2 loses it but keeps its unique second span
    assert boiler not in out.loc[2, "clean_text"]
    assert "unique trailing content" in out.loc[2, "clean_text"]
    assert out.loc[2, "n_spans"] == 2 and out.loc[2, "n_kept"] == 1


def test_quota_sample_caps_each_group(spark):
    import pandas as pd

    from dask_sql_spark.operators.llmprep import quota_sample

    pdf = pd.DataFrame(
        {"doc_id": range(30), "source": ["a"] * 20 + ["b"] * 7 + ["c"] * 3}
    )
    sdf = spark.createDataFrame(pdf)
    out = quota_sample(sdf, quota=5, group_col="source").toPandas()
    sizes = out.groupby("source").size().to_dict()
    assert sizes == {"a": 5, "b": 5, "c": 3}
    # deterministic: same selection on a second run
    again = quota_sample(sdf, quota=5, group_col="source").toPandas()
    assert sorted(out.doc_id) == sorted(again.doc_id)


def test_centroid_similarity_identifies_outlier(spark):
    from dask_sql_spark.operators.similarity import centroid_similarity

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [1.0, 0.0], 0),
        (2, [0.0, 1.0], 0),   # outlier within label 0
        (3, [0.0, 1.0], 1),   # sole member → cos 1.0 with itself
    ]
    sdf = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<FLOAT>, label INT")
    out = centroid_similarity(sdf).toPandas().set_index("vec_id")
    assert out.loc[3, "cos_centroid"] == 1.0
    assert out.loc[0, "cos_centroid"] == out.loc[1, "cos_centroid"]
    assert out.loc[2, "cos_centroid"] < out.loc[0, "cos_centroid"]


def test_resample_fill_gaps_and_leading_nulls(spark):
    import datetime as dt

    import pandas as pd

    from dask_sql_spark.operators.events import resample_fill

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 1],
            "ts": [t(10, 5), t(10, 40), t(13, 1)],   # gap: 11:00, 12:00
            "value": [1.0, 2.0, 9.0],
        }
    )
    out = (
        resample_fill(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values("bucket")
        .reset_index(drop=True)
    )
    assert len(out) == 4  # 10:00 .. 13:00
    assert out.n_events.tolist() == [2, 0, 0, 1]
    # bucket 10:00 takes the LATEST value in the hour; gaps forward-fill
    assert out.filled_value.tolist() == [2.0, 2.0, 2.0, 9.0]


def test_resample_fill_arbitrary_steps(spark):
    import datetime as dt

    import pandas as pd

    from dask_sql_spark.operators.events import resample_fill

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 2],
            # user 1: 10:05, 10:40, 11:35 -> 15-min grid 10:00..11:30
            "ts": [t(10, 5), t(10, 40), t(11, 35), t(9, 59)],
            "value": [1.0, 2.0, 9.0, 5.0],
        }
    )
    out = (
        resample_fill(spark.createDataFrame(pdf), every="15 minutes")
        .toPandas()
        .sort_values(["user_id", "bucket"])
        .reset_index(drop=True)
    )
    u1 = out[out.user_id == 1]
    assert len(u1) == 7  # 10:00, 10:15, ..., 11:30
    assert u1.n_events.tolist() == [1, 0, 1, 0, 0, 0, 1]
    assert u1.filled_value.tolist() == [1.0, 1.0, 2.0, 2.0, 2.0, 2.0, 9.0]
    assert u1.bucket.iloc[0] == pd.Timestamp(2024, 1, 1, 10, 0)
    u2 = out[out.user_id == 2]
    assert len(u2) == 1 and u2.bucket.iloc[0] == pd.Timestamp(2024, 1, 1, 9, 45)

    daily = (
        resample_fill(
            spark.createDataFrame(
                pd.DataFrame(
                    {
                        "user_id": [1, 1],
                        "ts": [dt.datetime(2024, 1, 1, 23), dt.datetime(2024, 1, 4, 1)],
                        "value": [3.0, 4.0],
                    }
                )
            ),
            every="1 day",
        )
        .toPandas()
        .sort_values("bucket")
        .reset_index(drop=True)
    )
    assert len(daily) == 4  # Jan 1..4, day-aligned
    assert daily.n_events.tolist() == [1, 0, 0, 1]
    assert daily.filled_value.tolist() == [3.0, 3.0, 3.0, 4.0]


def test_parse_interval_seconds_validation():
    import pytest as _pytest

    from dask_sql_spark.operators.events import parse_interval_seconds

    assert parse_interval_seconds("30 seconds") == 30
    assert parse_interval_seconds("15 minutes") == 900
    assert parse_interval_seconds("1 hour") == 3600
    assert parse_interval_seconds("2 days") == 172800
    assert parse_interval_seconds("1 week") == 604800
    for bad in ("1 month", "hourly", "0 hours", "-1 day", "1.5 hours"):
        with _pytest.raises(ValueError):
            parse_interval_seconds(bad)


def test_zorder_key_preserves_2d_locality(spark, tmp_path):
    import pandas as pd

    from dask_sql_spark.operators.zorder import with_zorder_key, write_zordered

    grid = [(x, y) for x in range(32) for y in range(32)]
    pdf = pd.DataFrame({"x": [g[0] for g in grid], "y": [g[1] for g in grid]})
    keyed = (
        with_zorder_key(spark.createDataFrame(pdf), ["x", "y"], bits=5)
        .toPandas()
        .sort_values("zkey")
        .reset_index(drop=True)
    )
    # walking the curve, consecutive cells stay close in BOTH dims: the
    # mean manhattan step on a Z-curve is ~2; row-major order gives ~32.
    steps = (
        (keyed.x.diff().abs() + keyed.y.diff().abs()).dropna()
    )
    assert steps.mean() < 4
    # sink round-trip: clustered files, key column dropped
    out = str(tmp_path / "zordered")
    write_zordered(
        spark.createDataFrame(pdf), out, ["x", "y"], bits=5, partitions=4
    )
    back = spark.read.parquet(out)
    assert set(back.columns) == {"x", "y"}
    assert back.count() == 1024


def test_compact_parquet_merges_small_files(spark, tmp_path):
    import pandas as pd

    from dask_sql_spark.sources.maintenance import compact_parquet

    src = str(tmp_path / "small_files")
    pdf = pd.DataFrame({"k": range(2000), "v": [str(i) * 20 for i in range(2000)]})
    # simulate fragmented ingestion: 40 tiny files
    spark.createDataFrame(pdf).repartition(40).write.parquet(src)
    dst = str(tmp_path / "compacted")
    stats = compact_parquet(spark, src, dst, target_file_mb=128)
    assert stats["files_before"] == 40
    assert stats["files_after"] == stats["target_files"] == 1
    back = spark.read.parquet(dst)
    assert back.count() == 2000
    assert back.agg(F.sum("k")).collect()[0][0] == sum(range(2000))


def test_compact_guard_normalizes_path_spellings():
    """Round-10 advisor, pinned: the nested-path guard must catch
    equivalent-but-differently-spelled paths — 'file:' scheme, '..'
    segments, '//' — not just raw string prefixes."""
    import pytest

    from dask_sql_spark.sources.maintenance import _guard_disjoint_paths

    for src, dest in [
        ("/data/t", "/data/t/compacted"),  # plain nesting (old guard)
        ("file:/data/t", "/data/t/compacted"),  # scheme-spelled src
        ("/data/t", "file:///data/t/compacted"),  # scheme-spelled dest
        ("/data/t", "/data/other/../t/compacted"),  # '..' dodge
        ("/data//t", "/data/t/compacted"),  # '//' dodge
        ("hdfs://nn/data/t", "hdfs://nn/data/t/x"),  # non-local scheme
    ]:
        with pytest.raises(ValueError):
            _guard_disjoint_paths(src, dest)
    # genuinely disjoint spellings still pass
    _guard_disjoint_paths("/data/t", "/data/t_compacted")
    _guard_disjoint_paths("hdfs://nn1/data/t", "hdfs://nn2/data/t/x")


def test_compact_parquet_preserves_nanos_timestamps(spark, tmp_path):
    """Round-10 audit, pinned: compacting a table whose parquet carries
    timestamp[ns] columns must write real TIMESTAMPs back. Under the
    session default nanosAsLong=true a raw scan reads them as
    epoch-nanos BIGINT, and the old compact_parquet wrote the BIGINT
    degradation into the compacted table."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dask_sql_spark.sources.maintenance import compact_parquet

    src = tmp_path / "ns_table"
    src.mkdir()
    pdf = pd.DataFrame(
        {"ts": pd.to_datetime(["2021-01-01 00:00:00.123456789"]), "v": [1]}
    )
    pq.write_table(
        pa.Table.from_pandas(pdf), str(src / "part-0.parquet"),
        coerce_timestamps=None,  # keep ns
    )
    dst = str(tmp_path / "ns_compacted")
    compact_parquet(spark, str(src), dst, target_file_mb=128)
    assert dict(spark.read.parquet(dst).dtypes)["ts"].startswith("timestamp")


def test_compaction_rejects_nested_paths(spark, tmp_path):
    """Round-10 audit, pinned: a dest nested under the source would be
    double-counted by every later scan of the source (and vice versa
    clobbered) — both compactors refuse."""
    import pytest

    from dask_sql_spark.operators.maintenance import compact_files
    from dask_sql_spark.sources.maintenance import compact_parquet

    src = str(tmp_path / "t")
    spark.range(10).write.parquet(src)
    with pytest.raises(ValueError, match="overlap"):
        compact_parquet(spark, src, src + "/compacted")
    with pytest.raises(ValueError, match="overlap"):
        compact_files(spark, src + "/sub", src)


def test_quantize_embeddings_roundtrip_error_bound(spark):
    """int8 quantization: qvec in [-127,127], max_err <= step/2, and the
    saturation count matches the elements at full scale."""
    from pyspark.sql import functions as F

    from dask_sql_spark.operators.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0], 0), (2, [0.0, 0.0, 0.0, 0.0], 1)],
        "vec_id LONG, embedding ARRAY<DOUBLE>, label INT",
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    r1 = rows[1]
    # half-up rounds toward +inf: -0.5/step = -63.5 → floor(-63.0) = -63
    assert r1["qvec"] == [127, -63, 32, 0]
    assert r1["scale"] == 1.0
    assert r1["n_sat"] == 1
    step = 1.0 / 127
    assert r1["max_err"] <= step / 2 + 1e-9  # 9-digit rounding slack
    r2 = rows[2]  # all-zero vector: guarded step, all-zero qvec
    assert r2["qvec"] == [0, 0, 0, 0] and r2["max_err"] == 0.0


def test_ngram_topk_counts_and_tiebreak(spark):
    from dask_sql_spark.operators.text import ngram_topk

    df = spark.createDataFrame(
        [
            (1, "a b c a b c"),
            (2, "a b c d"),
            (3, "x y"),  # shorter than n → contributes nothing
        ],
        "doc_id LONG, text STRING",
    )
    out = ngram_topk(df, n=3, min_count=1, k=10).collect()
    counts = {r["gram"]: r["n_occurrences"] for r in out}
    assert counts["a b c"] == 3  # twice in doc 1, once in doc 2
    assert "x y" not in counts
    # ordering: count desc then gram asc
    assert [r["gram"] for r in out[:1]] == ["a b c"]


def test_script_ratios_classifies_mixed_text(spark):
    from dask_sql_spark.operators.text import add_script_ratios

    df = spark.createDataFrame(
        [(1, "abcд1 "), (2, "")], "doc_id LONG, text STRING"
    )
    rows = {r["doc_id"]: r for r in add_script_ratios(df).collect()}
    r = rows[1]  # 6 chars: 3 latin, 1 cyrillic, 1 digit, 1 space
    assert r["latin_ratio"] == round(3 / 6, 4)
    assert r["cyrillic_ratio"] == round(1 / 6, 4)
    assert r["digit_ratio"] == round(1 / 6, 4)
    assert r["space_ratio"] == round(1 / 6, 4)
    assert r["other_ratio"] == 0.0
    assert rows[2]["latin_ratio"] == 0.0  # empty text guarded


def test_salted_count_distinct_matches_plain(spark):
    from pyspark.sql import functions as F

    from dask_sql_spark.operators.skew import salted_count_distinct

    df = spark.createDataFrame(
        [("k1", i % 7) for i in range(100)] + [("k2", i) for i in range(5)],
        "k STRING, v LONG",
    )
    got = {
        r["k"]: r["n_distinct_v"]
        for r in salted_count_distinct(df, ["k"], "v", buckets=4).collect()
    }
    assert got == {"k1": 7, "k2": 5}


def test_dedup_clusters_quality_keeper(spark):
    """quality_col keeper policy: the highest-quality member wins the
    cluster (ties by min id); min-id policy unchanged by default."""
    from dask_sql_spark.operators.graph import dedup_clusters

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 99), (4, 5)], "doc_id LONG, quality LONG"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a LONG, id_b LONG")
    by_quality = {
        r["id"]: (r["keeper_id"], r["is_keeper"])
        for r in dedup_clusters(pairs, docs, quality_col="quality").collect()
    }
    # cluster {1,2,3}: quality 99 tie between 2 and 3 → min id 2
    assert by_quality[1] == (2, False)
    assert by_quality[2] == (2, True)
    assert by_quality[3] == (2, False)
    assert by_quality[4] == (4, True)  # singleton keeps itself
    by_min = {
        r["id"]: r["keeper_id"] for r in dedup_clusters(pairs, docs).collect()
    }
    assert by_min == {1: 1, 2: 1, 3: 1, 4: 4}


def test_assign_splits_deterministic_and_complete(spark):
    from dask_sql_spark.operators.llmprep import assign_splits

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    out = assign_splits(
        df, weights={"train": 0.8, "validation": 0.1, "test": 0.1}
    )
    counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    assert set(counts) == {"train", "validation", "test"}
    assert 700 < counts["train"] < 900  # ~80% of 1000
    # stable under reordering and re-run
    again = assign_splits(
        df.orderBy(F.col("doc_id").desc()),
        weights={"train": 0.8, "validation": 0.1, "test": 0.1},
    )
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {r["doc_id"]: r["split"] for r in again.collect()}
    assert a == b


def test_pack_stats_fill_ratio(spark):
    from dask_sql_spark.operators.llmprep import pack_stats

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "e f g h"), (3, "i j")],
        "doc_id LONG, text STRING",
    )
    rows = {r["pack_id"]: r for r in pack_stats(df, max_tokens=8).collect()}
    # docs 1+2 fill pack 0 exactly (4+4 tokens); doc 3 starts pack 1
    assert rows[0]["n_docs"] == 2 and rows[0]["fill_ratio"] == 1.0
    assert rows[1]["n_tokens"] == 2 and rows[1]["fill_ratio"] == 0.25


def test_training_prep_end_to_end(docs):
    """clean → split → pack composes lazily; packs budget within splits
    and every surviving doc gets exactly one row."""
    from dask_sql_spark.operators.pipeline import clean_corpus, training_prep

    out = training_prep(
        docs,
        max_tokens=16,
        split_weights={"train": 0.5, "validation": 0.25, "test": 0.25},
        min_tokens=3,
        lang="en",
    ).collect()
    cleaned_n = clean_corpus(docs, min_tokens=3, lang="en").count()
    assert len(out) == cleaned_n > 0
    assert {r["split"] for r in out} <= {"train", "validation", "test"}
    # pack offsets restart per split and stay budget-aligned
    for split in {r["split"] for r in out}:
        rows = sorted(
            (r for r in out if r["split"] == split), key=lambda r: r["doc_id"]
        )
        running = 0
        for r in rows:
            assert r["pack_offset"] == running
            assert r["pack_id"] == running // 16
            running += r["n_tokens"]


def test_dq_checks_catch_planted_defects(spark):
    from dask_sql_spark.operators.dq import (
        accepted_values,
        dq_report,
        duplicate_keys,
        null_count,
        orphan_keys,
        range_violations,
    )

    child = spark.createDataFrame(
        [(1, 10, 0.05, "A"), (1, 99, 0.5, "A"), (None, 10, 0.05, "Z"),
         (2, 10, None, "A")],
        "k LONG, fk LONG, v DOUBLE, status STRING",
    )
    parent = spark.createDataFrame([(10,)], "pk LONG")
    report = {
        r["check"]: r["n_bad"]
        for r in dq_report(
            [
                null_count(child, "k"),
                duplicate_keys(child, ["k"]),
                orphan_keys(child, parent, "fk", "pk"),
                range_violations(child, "v", 0.0, 0.1),
                accepted_values(child, "status", ["A", "B"]),
            ]
        ).collect()
    }
    assert report["null:k"] == 1
    assert report["dup_key:k"] == 1      # two k=1 rows; NULL not counted
    assert report["orphan:fk"] == 1      # fk=99
    assert report["range:v"] == 1        # 0.5; NULL ignored
    assert report["accepted:status"] == 1  # 'Z'


def test_fused_checks_match_standalone_and_scan_once(spark):
    """fused_checks computes all row-level rules in one aggregate with
    the same numbers the standalone helpers report, and its plan reads
    the table exactly once."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from dask_sql_spark.operators.dq import fused_checks

    df = spark.createDataFrame(
        [(1, 0.05, "A"), (1, 0.5, "A"), (None, 0.05, "Z"), (2, None, "A")],
        "k LONG, v DOUBLE, status STRING",
    )
    kk = F.struct(F.col("k"))
    out = fused_checks(
        df,
        {
            "null:k": F.count(F.lit(1)) - F.count(F.col("k")),
            "dup_key:k": F.count(F.when(F.col("k").isNotNull(), kk))
            - F.count_distinct(F.when(F.col("k").isNotNull(), kk)),
            "range:v": F.count(
                F.when(
                    F.col("v").isNotNull()
                    & ((F.col("v") < 0.0) | (F.col("v") > 0.1)),
                    1,
                )
            ),
            "accepted:status": F.count(
                F.when(
                    F.col("status").isNotNull()
                    & ~F.col("status").isin(["A", "B"]),
                    1,
                )
            ),
        },
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain()  # pre-execution plan: exactly one source read
    assert buf.getvalue().count("Scan ExistingRDD") == 1
    got = {r["check"]: r["n_bad"] for r in out.collect()}
    assert got == {
        "null:k": 1, "dup_key:k": 1, "range:v": 1, "accepted:status": 1
    }


def test_unigram_entropy_orders_by_diversity(spark):
    from dask_sql_spark.operators.text import add_unigram_entropy

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d"), (3, "a a b b")],
        "doc_id LONG, text STRING",
    )
    rows = {r["doc_id"]: r["entropy"] for r in add_unigram_entropy(df).collect()}
    assert rows[1] == 0.0          # single repeated token
    assert rows[2] == 2.0          # 4 uniform tokens → log2(4)
    assert rows[3] == 1.0          # two tokens at p=0.5


def test_winsorize_clips_only_tails(spark):
    from dask_sql_spark.operators.features import winsorize

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 101)], "id LONG, v DOUBLE"
    )
    rows = {r["id"]: r["v_w"] for r in winsorize(df, "v", p_lo=0.1, p_hi=0.9).collect()}
    # exact percentiles of 1..100: p10 = 10.9, p90 = 90.1
    assert rows[1] == 10.9 and rows[5] == 10.9   # low tail clipped
    assert rows[100] == 90.1                     # high tail clipped
    assert rows[50] == 50.0                      # body untouched


def test_winsorize_null_stays_null(spark):
    """Round-10 audit, pinned: greatest/least skip NULLs (Postgres
    semantics), so without an explicit passthrough a NULL feature value
    silently became the LOWER percentile bound — a winsorized NULL must
    stay NULL."""
    from dask_sql_spark.operators.features import winsorize

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 101)] + [(999, None)],
        "id LONG, v DOUBLE",
    )
    rows = {
        r["id"]: r["v_w"]
        for r in winsorize(df, "v", p_lo=0.1, p_hi=0.9).collect()
    }
    assert rows[999] is None
    assert rows[1] == 10.9  # bounds unchanged (percentile ignores NULLs)


def test_robust_zscore_centers_median(spark):
    from dask_sql_spark.operators.features import robust_zscore

    df = spark.createDataFrame(
        [("g", float(v)) for v in [1, 2, 3, 4, 100]], "g STRING, v DOUBLE"
    )
    rows = sorted(
        r["v_rz"] for r in robust_zscore(df, "v", group_cols=["g"]).collect()
    )
    # median 3, q1 2, q3 4 → IQR 2; 100 → 48.5, median row → 0
    assert rows[2] == -0.5 or 0.0 in rows
    assert max(rows) == 48.5
    zero_iqr = spark.createDataFrame([("g", 5.0), ("g", 5.0)], "g STRING, v DOUBLE")
    assert all(
        r["v_rz"] is None
        for r in robust_zscore(zero_iqr, "v", group_cols=["g"]).collect()
    )


def test_quantized_topk_recovers_exact_neighbors(emb):
    """int8 ranking reproduces the exact kernel's neighbors when gaps
    exceed the quantization error (~1e-2 in cosine)."""
    from dask_sql_spark.operators.similarity import (
        brute_force_topk,
        quantized_brute_topk,
    )

    q = emb.where(F.col("vec_id") == 0)
    exact = {
        r["rank"]: r["neighbor_id"] for r in brute_force_topk(emb, q, k=2).collect()
    }
    approx = {
        r["rank"]: r["neighbor_id"]
        for r in quantized_brute_topk(emb, q, k=2).collect()
    }
    assert approx[1] == exact[1] == 1  # well-separated nearest neighbor


def test_snapshot_diff_classifies_all_changes(spark):
    from dask_sql_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "d")], "k LONG, v STRING"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, "c"), (5, "e")], "k LONG, v STRING"
    )
    got = {r["k"]: r["change"] for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {
        1: "same",
        2: "change",
        3: "change",  # NULL → value is a change (null-safe compare)
        4: "delete",
        5: "insert",
    }


def test_refresh_aggregate_equals_full_recompute(spark):
    from pyspark.sql import functions as F

    from dask_sql_spark.operators.diff import refresh_aggregate

    base_rows = spark.createDataFrame(
        [("x", 1.0), ("x", 2.0), ("y", 5.0)], "g STRING, v DOUBLE"
    )
    delta = spark.createDataFrame(
        [("x", 10.0), ("z", 7.0)], "g STRING, v DOUBLE"
    )
    agg = base_rows.groupBy("g").agg(
        F.sum("v").alias("v"), F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    refreshed = {
        r["g"]: (r["v"], r["n_rows"])
        for r in refresh_aggregate(agg, delta, ["g"], ["v"]).collect()
    }
    full = {
        r["g"]: (r["v"], r["n_rows"])
        for r in base_rows.unionByName(delta)
        .groupBy("g")
        .agg(F.sum("v").alias("v"), F.count(F.lit(1)).cast("long").alias("n_rows"))
        .collect()
    }
    assert refreshed == full == {"x": (13.0, 3), "y": (5.0, 1), "z": (7.0, 1)}


def test_session_paths_orders_and_counts(spark):
    import datetime as dt

    from dask_sql_spark.operators.events import session_paths

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 1, one session: a > b
        (1, t0, 1, "a"), (1, t0 + dt.timedelta(seconds=60), 2, "b"),
        # user 1, second session after the gap: a > b  (same journey)
        (2, t0 + dt.timedelta(hours=2), 3, "a"),
        (2, t0 + dt.timedelta(hours=2, seconds=30), 4, "b"),
        # user 3: simultaneous events → id tiebreak fixes the order
        (3, t0, 6, "y"), (3, t0, 5, "x"),
    ]
    df = spark.createDataFrame(
        rows, "user_id LONG, ts TIMESTAMP, event_id LONG, event_type STRING"
    )
    out = {r["path"]: r["n_sessions"] for r in session_paths(df, 1800).collect()}
    assert out == {"a>b": 2, "x>y": 1}


def test_write_with_metrics_single_pass(spark, tmp_path):
    from dask_sql_spark.operators.dq import write_with_metrics

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], "k LONG, v DOUBLE"
    )
    got = write_with_metrics(
        df,
        str(tmp_path / "out"),
        {
            "n_rows": F.count(F.lit(1)),
            "n_null_v": F.count(F.lit(1)) - F.count("v"),
            "sum_v": F.sum("v"),
        },
    )
    assert got == {"n_rows": 3, "n_null_v": 1, "sum_v": 40.0}
    assert spark.read.parquet(str(tmp_path / "out")).count() == 3


def test_vocab_coverage_full_vocab_is_total(spark):
    from dask_sql_spark.operators.text import vocab_coverage

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id LONG, text STRING"
    )
    full = vocab_coverage(df, vocab_size=10).collect()[0]
    assert full["n_terms"] == 3 and full["corpus_tokens"] == 5
    assert full["coverage"] == 1.0
    top1 = vocab_coverage(df, vocab_size=1).collect()[0]
    assert top1["covered_tokens"] == 2  # 'a' and 'b' tie at 2 → 'a' wins
    assert top1["coverage"] == 0.4


def test_normalize_text_nfc_composes(spark):
    from dask_sql_spark.operators.text import normalize_text

    # 'e' + combining acute (NFD) → precomposed é under NFC
    df = spark.createDataFrame([(1, "é"), (2, None)], "id LONG, text STRING")
    rows = {r["id"]: r["text_norm"] for r in normalize_text(df).collect()}
    assert rows[1] == "é" and len(rows[1]) == 1
    assert rows[2] is None


def test_deterministic_topk_sample_exact_and_stable(spark):
    from dask_sql_spark.operators.llmprep import deterministic_topk_sample

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"] for r in deterministic_topk_sample(df, 25).collect()}
    b = {
        r["doc_id"]
        for r in deterministic_topk_sample(
            df.orderBy(F.col("doc_id").desc()), 25
        ).collect()
    }
    assert len(a) == 25 and a == b  # exact k, order-independent


def test_unigram_lm_bits_flags_rare_token_docs(spark):
    """A doc made of corpus-rare tokens must score more bits/token than a
    doc made of corpus-common tokens; bits are positive and finite."""
    from dask_sql_spark.operators.text import unigram_lm_bits

    rows = [(i, "common words common words") for i in range(6)]
    rows.append((6, "zxqv jklm wpfg"))  # rare everywhere
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    out = {
        r["doc_id"]: r["bits_per_token"]
        for r in unigram_lm_bits(df).collect()
    }
    assert out[6] > out[0] > 0
    assert all(v == v and v != float("inf") for v in out.values())


def test_stratified_sample_hamilton_allocation(spark):
    """Exactly k rows come back; per-stratum counts follow the
    largest-remainder quotas; repeated runs are identical."""
    from dask_sql_spark.operators.llmprep import stratified_sample

    rows = (
        [(i, "en") for i in range(60)]
        + [(100 + i, "de") for i in range(30)]
        + [(200 + i, "fr") for i in range(10)]
    )
    df = spark.createDataFrame(rows, "doc_id INT, lang STRING")
    out = stratified_sample(df, k=10, strata_col="lang").toPandas()
    assert len(out) == 10
    by_lang = out.groupby("lang")["doc_id"].count().to_dict()
    # quotas are exact: 60/100*10=6, 30/100*10=3, 10/100*10=1
    assert by_lang == {"en": 6, "de": 3, "fr": 1}
    again = stratified_sample(df, k=10, strata_col="lang").toPandas()
    assert sorted(out["doc_id"]) == sorted(again["doc_id"])


def test_stratified_sample_remainder_seats(spark):
    """With k=4 over strata of 5/3/3 the Hamilton remainders decide the
    fourth seat: base = floor(4*5/11)=1, floor(4*3/11)=1, floor(4*3/11)=1;
    remainders 9, 1, 1 -> the extra seat goes to the big stratum."""
    from dask_sql_spark.operators.llmprep import stratified_sample

    rows = (
        [(i, "a") for i in range(5)]
        + [(10 + i, "b") for i in range(3)]
        + [(20 + i, "c") for i in range(3)]
    )
    df = spark.createDataFrame(rows, "doc_id INT, lang STRING")
    out = stratified_sample(df, k=4, strata_col="lang").toPandas()
    by = out.groupby("lang")["doc_id"].count().to_dict()
    assert by == {"a": 2, "b": 1, "c": 1}


def test_bm25_search_ranks_relevant_doc_first(spark):
    from dask_sql_spark.operators.text import bm25_search

    rows = [
        (0, "spark engine spark engine spark"),
        (1, "totally unrelated words here banana"),
        (2, "spark appears once in a much longer document " + "pad " * 40),
        (3, "engine engine engine"),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    out = bm25_search(df, "spark engine", k=3).collect()
    assert out[0]["doc_id"] == 0          # hits both terms, short doc
    assert out[0]["n_terms_hit"] == 2
    ids = [r["doc_id"] for r in out]
    assert 1 not in ids                    # no query term -> no score row
    assert all(r["score"] > 0 for r in out)


def test_bm25_search_empty_query_raises(spark):
    from dask_sql_spark.operators.text import bm25_search

    df = spark.createDataFrame([(0, "x")], "doc_id INT, text STRING")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        bm25_search(df, "   ")


def test_containment_catches_excerpt_jaccard_misses(docs, spark):
    """Doc 8 = doc 0's text embedded in a much longer page: Jaccard is
    low (big union) but containment of doc 0 inside doc 8 is ~1."""
    from dask_sql_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    base = docs.toPandas()
    quote = base.loc[base.doc_id == 0, "text"].iloc[0]
    longer = quote + " " + " ".join(f"filler{i} word{i} extra{i}" for i in range(30))
    rows = list(base.itertuples(index=False)) + [(99, longer)]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")

    cont = containment_pairs(df, threshold=0.9).toPandas()
    pair = cont[(cont.id_a == 0) & (cont.id_b == 99)]
    assert len(pair) == 1 and pair.iloc[0]["direction"] == "a_in_b"
    assert pair.iloc[0]["containment"] >= 0.99

    jac = ngram_jaccard_pairs(df, threshold=0.9).toPandas()
    assert len(jac[(jac.id_a == 0) & (jac.id_b == 99)]) == 0


def test_incremental_dedup_anti_joins_store_and_batch(docs, spark):
    """Store holds doc 0's text; batch has an exact dup of it (doc 2),
    an intra-batch dup pair, and fresh content — survivors are the fresh
    min-id keepers only."""
    from dask_sql_spark.operators.dedup import incremental_dedup

    store = docs.where("doc_id = 0").selectExpr("md5(text) AS content_hash")
    batch = docs.where("doc_id in (1, 2, 3)")
    out = incremental_dedup(batch, store).toPandas()
    # doc 2 == doc 0 text → dropped by the store; 1 and 3 are fresh
    assert sorted(out.doc_id.tolist()) == [1, 3]

    # intra-batch dedup: 0 and 2 share text → min-id keeper 0 survives
    out2 = incremental_dedup(
        docs.where("doc_id in (0, 2, 3)"), store.where("1=0")
    ).toPandas()
    assert sorted(out2.doc_id.tolist()) == [0, 3]


def test_shuffle_shards_deterministic_and_complete(docs, spark):
    from dask_sql_spark.operators.llmprep import shuffle_shards

    out = shuffle_shards(docs, n_shards=3, seed="e1").toPandas()
    assert len(out) == docs.count()
    assert set(out.shard.unique()) <= {0, 1, 2}
    # per-shard positions are 1..n with no gaps
    for s, grp in out.groupby("shard"):
        assert sorted(grp.shard_pos.tolist()) == list(range(1, len(grp) + 1))
    # deterministic under re-run and repartition
    again = shuffle_shards(docs.repartition(5), n_shards=3, seed="e1").toPandas()
    a = out.sort_values("doc_id")[["doc_id", "shard", "shard_pos"]].values.tolist()
    b = again.sort_values("doc_id")[["doc_id", "shard", "shard_pos"]].values.tolist()
    assert a == b
    # a different seed reorders
    other = shuffle_shards(docs, n_shards=3, seed="e2").toPandas()
    merged = out.merge(other, on="doc_id", suffixes=("_1", "_2"))
    assert (
        (merged.shard_1 != merged.shard_2)
        | (merged.shard_pos_1 != merged.shard_pos_2)
    ).any()

    import pytest as _pytest

    with _pytest.raises(ValueError):
        shuffle_shards(docs, n_shards=0)


def test_semantic_contaminated_finds_paraphrase_pairs(emb, spark):
    """Vec 1 is near-parallel to vec 0 (cos ≈ 0.99): with 0 as the bench
    set, only corpus vec 1 crosses a 0.95 threshold."""
    from dask_sql_spark.operators.similarity import semantic_contaminated

    bench = emb.where("vec_id = 0")
    corpus = emb.where("vec_id <> 0")
    out = semantic_contaminated(corpus, bench, threshold=0.95).toPandas()
    assert out.values.tolist() == [[1, 0]]
    # at a loose threshold more corpus rows pair with the bench vector
    loose = semantic_contaminated(corpus, bench, threshold=0.5).toPandas()
    assert set(loose.corpus_id) >= {1, 4}


def test_bigram_lm_flags_word_salad(spark):
    """Bigram perplexity separates shuffled text from fluent text even
    when their unigram distributions are identical."""
    import pandas as pd

    from dask_sql_spark.operators.text import bigram_lm_bits

    fluent = "the cat sat on the mat " * 10
    salad = "mat the on sat cat the " * 10  # same unigrams, broken order
    pdf = pd.DataFrame(
        {"doc_id": [0, 1, 2], "text": [fluent, fluent, salad]}
    )
    out = {
        r.doc_id: r.bits_per_bigram
        for r in bigram_lm_bits(spark.createDataFrame(pdf)).collect()
    }
    assert out[0] == out[1]          # identical docs score identically
    assert out[2] > out[0]           # word salad is more surprising
    # one-token docs produce no bigrams and are absent
    tiny = spark.createDataFrame(
        pd.DataFrame({"doc_id": [9], "text": ["hello"]})
    )
    assert bigram_lm_bits(tiny).count() == 0


def test_blocklist_filter_whole_token(spark):
    import pandas as pd
    import pytest as _pytest

    from dask_sql_spark.operators.text import blocklist_filter

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "the assembly of parts",      # substring 'ass' must NOT hit
                "bad Ass content ass",        # 2 whole-token hits (case-insens)
                "clean text here",
            ],
        }
    )
    out = {
        r.doc_id: (r.n_blocked, r.blocked)
        for r in blocklist_filter(spark.createDataFrame(pdf), ["ass"]).collect()
    }
    assert out == {0: (0, False), 1: (2, True), 2: (0, False)}
    with _pytest.raises(ValueError):
        blocklist_filter(spark.createDataFrame(pdf), [])


def test_key_skew_report_shares(spark):
    import pandas as pd

    from dask_sql_spark.operators.dq import key_skew_report

    pdf = pd.DataFrame({"k": ["hot"] * 8 + ["warm"] * 2 + ["a", "b"]})
    out = key_skew_report(spark.createDataFrame(pdf), "k", k=2).collect()
    assert [(r.key, r.n_rows, r.share) for r in out] == [
        ("hot", 8, round(8 / 12, 6)),
        ("warm", 2, round(2 / 12, 6)),
    ]
    # top-k must plan as TakeOrderedAndProject (no global sort)
    df = key_skew_report(spark.createDataFrame(pdf), "k", k=2)
    assert "TakeOrderedAndProject" in df._jdf.queryExecution().executedPlan().toString()


def test_incremental_near_dedup(spark):
    import pandas as pd

    from dask_sql_spark.operators.dedup import (
        incremental_near_dedup,
        minhash_band_buckets,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    seen = spark.createDataFrame(
        pd.DataFrame({"doc_id": [100], "text": [base]})
    )
    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    base,  # near-dup of history -> drops
                    "completely different content about spark and catalyst plans",
                    "completely different content about spark and catalyst plans",
                    # ^ intra-batch dup of doc 2 -> doc 3 drops, doc 2 keeps
                    "a third unrelated document mentioning bucketed shuffle joins",
                ],
            }
        )
    )
    store = minhash_band_buckets(seen, num_perm=16, bands=8)
    out = incremental_near_dedup(batch, store, num_perm=16, bands=8)
    survivors = sorted(
        r.doc_id for r in out.select("doc_id").distinct().collect()
    )
    assert survivors == [2, 4]
    # the output IS the store delta: band buckets for every survivor
    assert set(out.select("band").distinct().toPandas()["band"]) == set(range(8))


def test_filter_funnel_counts_are_cumulative(spark):
    import pandas as pd

    from dask_sql_spark.operators.pipeline import filter_funnel

    # ~0.4 stopword ratio (cap is an UPPER bound: all-stopword text fails)
    en = "the cat and dog of house to garden in town is good banana apple tree"
    de = "der hund und die katze das haus ist nicht ein baum mit den zu haus"
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                en,            # survives all stages
                en,            # exact dup of doc 0
                "short text",  # fails min_tokens
                de,            # passes tokens+ratio, fails lang=en
            ],
        }
    )
    out = {
        r.stage: r.n_pass
        for r in filter_funnel(spark.createDataFrame(pdf)).collect()
    }
    assert out["all"] == 4
    assert out["min_tokens"] == 3      # doc 2 drops
    assert out["stopword_ratio"] == 3  # none dropped here
    assert out["lang"] == 2            # doc 3 drops (de)
    assert out["exact_dedup"] == 1     # docs 0/1 collapse to one hash
    # monotone non-increasing through the cascade
    order = ["all", "min_tokens", "stopword_ratio", "lang", "exact_dedup"]
    vals = [out[s] for s in order]
    assert vals == sorted(vals, reverse=True)


def test_source_quality_report_per_source(spark):
    import pandas as pd

    from dask_sql_spark.operators.llmprep import source_quality_report

    en = "the and of to in is that it was for"
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "source": ["web", "web", "books"],
            "text": [en, en, "xyzzy plugh"],
        }
    )
    rows = {
        r.source: r
        for r in source_quality_report(spark.createDataFrame(pdf)).collect()
    }
    assert rows["web"].n_docs == 2 and rows["web"].n_distinct_texts == 1
    assert rows["web"].dup_rate == 0.5 and rows["web"].pct_en == 1.0
    assert rows["books"].n_docs == 1 and rows["books"].pct_en == 0.0
    assert rows["books"].total_tokens == 2


def test_bpe_pair_counts_word_internal_only(spark):
    from dask_sql_spark.operators.text import bpe_pair_counts

    df = spark.createDataFrame(
        [(0, "aaab aab"), (1, "ab")], "doc_id INT, text STRING"
    )
    out = bpe_pair_counts(df, k=10).toPandas()
    counts = dict(zip(out["pair"], out["cnt"]))
    # "aaab" → aa,aa,ab ; "aab" → aa,ab ; "ab" → ab ; no cross-space pairs
    assert counts == {"aa": 3, "ab": 3}
    # deterministic ordering: count desc then pair asc
    assert out["pair"].tolist() == ["aa", "ab"]


def test_hybrid_rerank_blends_lexical_and_semantic(docs, emb, spark):
    """Docs 0-4 have embeddings (vec_id == doc_id). Query terms hit the
    fox docs; the query vector is vec 0's embedding, so doc 1 (high BM25
    AND cos≈0.99 to vec 0) must outrank doc 4 (low lexical overlap,
    mid cosine)."""
    from dask_sql_spark.operators.similarity import hybrid_rerank

    out = hybrid_rerank(
        docs,
        emb.withColumn("embedding", F.col("embedding").cast("array<double>")),
        query="quick brown fox",
        query_emb=emb.where("vec_id = 0"),
        k=5,
        candidates=10,
        alpha=0.5,
    ).toPandas()
    assert set(out.columns) == {"doc_id", "bm25_norm", "cos_sim", "final_score"}
    # only docs with BOTH a term hit and an embedding can appear
    assert set(out.doc_id) <= {0, 1, 2}
    # doc 0: max BM25 and cos(v0, v0) = 1 → must rank first; near-dup
    # doc 1 (cos ≈ 0.99) must be present and beat orthogonal doc 2
    ranked = out.sort_values("final_score", ascending=False).doc_id.tolist()
    assert ranked[0] == 0
    assert ranked.index(1) < ranked.index(2)
    # scores within [0, 1] + rounding slack
    assert (out.final_score <= 1.000001).all()


def test_compaction_plan_and_compact_files(docs, spark, tmp_path):
    """40 tiny files → audit flags compaction → rewrite lands the target
    file count with identical content."""
    from dask_sql_spark.operators.maintenance import (
        compact_files,
        compaction_plan,
    )

    src = str(tmp_path / "frag")
    docs.repartition(40).write.mode("overwrite").parquet(src)

    import glob as _glob

    n_on_disk = len(_glob.glob(f"{src}/part-*.parquet"))
    plan = compaction_plan(spark, src, target_bytes=1 << 20).toPandas()
    assert plan.n_files[0] == n_on_disk > 1
    assert bool(plan.needs_compaction[0])
    assert plan.target_n_files[0] == 1  # tiny table fits one target file

    dest = str(tmp_path / "compact")
    after = compact_files(spark, src, dest, target_bytes=1 << 20).toPandas()
    assert after.n_files[0] == 1
    assert not bool(after.needs_compaction[0])
    # content identical
    a = spark.read.parquet(src).orderBy("doc_id").toPandas()
    b = spark.read.parquet(dest).orderBy("doc_id").toPandas()
    assert a.equals(b)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        compact_files(spark, src, src)


def test_pagerank_properties(spark):
    """Fixed-iteration PageRank: ranks sum to 1, a sink-fed hub outranks
    its feeders, a dangling-only node keeps the uniform floor, and the
    result is deterministic across reruns."""
    from dask_sql_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 2.0), ("b", "c", 1.0), ("c", "a", 1.0),
         ("a", "c", 3.0), ("d", "a", 1.0)],
        "src STRING, dst STRING, n DOUBLE",
    )
    out = {r.node: r.rank for r in pagerank(edges, weight="n").collect()}
    assert abs(sum(out.values()) - 1.0) < 1e-9
    # d has no in-edges: it keeps only the teleport floor, below everyone
    assert out["d"] < min(out["a"], out["b"], out["c"])
    # a is fed by both c and d; b only by a's weaker edge
    assert out["a"] > out["b"]
    again = {r.node: r.rank for r in pagerank(edges, weight="n").collect()}
    assert out == again


def test_dataset_card_one_row_summary(docs, spark):
    from dask_sql_spark.operators.llmprep import dataset_card

    out = dataset_card(
        docs.withColumn("source", F.lit("web")), source_col="source"
    ).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert r.n_docs == 8 and r.n_distinct_texts == 7  # one exact dup
    assert abs(r.dup_rate - (1 - 7 / 8)) < 1e-6
    assert r.n_sources == 1
    assert 0 < r.pct_en < 1  # de/fr docs present
    assert r.p50_tokens <= r.p95_tokens <= 10


def test_bpe_learn_merges_matches_reference_algorithm(spark):
    """Hand-checkable corpus: 'low low lower' → chars. Round 1 merges the
    hottest pair deterministically; later rounds see the merged symbol."""
    from dask_sql_spark.operators.text import bpe_learn_merges

    df = spark.createDataFrame(
        [(0, "low low lower")], "doc_id INT, text STRING"
    )
    merges = bpe_learn_merges(df, n_merges=3)
    # pairs round 1: l-o x3, o-w x3 -> tie breaks to 'l o'
    assert merges[0] == ("l", "o", 3)
    # round 2: lo-w x3 wins
    assert merges[1] == ("lo", "w", 3)
    # round 3: low-e x1 / e-r x1 -> tie breaks to 'e r'
    assert merges[2] == ("e", "r", 1)


def test_bpe_learn_merges_stops_when_dry(spark):
    from dask_sql_spark.operators.text import bpe_learn_merges

    df = spark.createDataFrame([(0, "a b")], "doc_id INT, text STRING")
    # single-char words produce no pairs: loop stops early, no crash
    assert bpe_learn_merges(df, n_merges=5) == []


def test_bpe_merge_respects_symbol_boundaries(spark):
    """A learned merge must only fuse WHOLE symbols.  After round 1 merges
    (a,l), the word 'halo' is 'h al o' — its 'l o' substring spans the
    multi-char symbol 'al' and must NOT be fused when round 2 merges
    (l,o).  An unguarded literal replace corrupts it to 'h alo' and round
    3 then learns the bogus pair (h,alo) instead of (al,o)."""
    from dask_sql_spark.operators.text import bpe_learn_merges

    corpus = " ".join(["al"] * 10 + ["halo"] * 3 + ["lo"] * 5)
    df = spark.createDataFrame([(0, corpus)], "doc_id INT, text STRING")
    merges = bpe_learn_merges(df, n_merges=3)
    # round 1: (a,l) 10+3; round 2: (l,o) 5 standalone only; round 3:
    # 'h al o' intact -> (al,o) x3 beats (h,al) x3 on pair-string tiebreak
    assert merges[0] == ("a", "l", 13)
    assert merges[1] == ("l", "o", 5)
    assert merges[2] == ("al", "o", 3)


def test_fuzzy_levenshtein_pairs(docs):
    from dask_sql_spark.operators.dedup import fuzzy_levenshtein_pairs

    pairs = {
        (r.id_a, r.id_b): r.dist
        for r in fuzzy_levenshtein_pairs(docs, max_dist=6).collect()
    }
    # dog/cat swap = 3 edits; exact dup = 0; " today" suffix = 6
    assert pairs[(0, 1)] == 3
    assert pairs[(0, 2)] == 0
    assert pairs[(1, 2)] == 3
    assert pairs[(0, 7)] == 6
    assert pairs[(2, 7)] == 6
    # beyond the bound: cat-variant vs today-variant is 9 edits
    assert (1, 7) not in pairs
    # unrelated text never becomes a candidate (different first segments)
    assert not any(3 in p or 4 in p or 5 in p or 6 in p for p in pairs)


def test_mmr_rerank_diversifies(spark, emb):
    import numpy as np

    from dask_sql_spark.operators.similarity import mmr_rerank

    q = emb.where("vec_id = 0")
    out = mmr_rerank(q.unionByName(emb.where("vec_id <> 0")), q,
                     k=3, n_candidates=4, lam=0.5)
    got = {r.step: r.selected_id for r in out.collect()}
    # replicate the greedy selection with numpy
    vecs = {r.vec_id: np.array(r.embedding) for r in emb.collect()}
    cos = lambda a, b: float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    rel = {i: cos(vecs[0], vecs[i]) for i in vecs if i != 0}
    sel = [max(rel, key=lambda i: (rel[i], -i))]
    for _ in range(2):
        remaining = [i for i in rel if i not in sel]
        score = {
            i: 0.5 * rel[i] - 0.5 * max(cos(vecs[i], vecs[s]) for s in sel)
            for i in remaining
        }
        sel.append(max(score, key=lambda i: (score[i], -i)))
    assert [got[s] for s in (1, 2, 3)] == sel
    # step 1 is the pure-relevance argmax (the near-dup of the query)
    assert got[1] == 1


def test_curriculum_order_stages(docs):
    from dask_sql_spark.operators.llmprep import curriculum_order

    rows = curriculum_order(docs, n_stages=2, n_shards=2).collect()
    by_id = {r.doc_id: r for r in rows}
    assert len(rows) == 8
    # "short" (1 token) lands in stage 1; the longest doc in stage 2
    assert by_id[6].stage == 1
    assert by_id[7].stage == 2
    # stages are monotone in difficulty
    max_s1 = max(r.difficulty for r in rows if r.stage == 1)
    min_s2 = min(r.difficulty for r in rows if r.stage == 2)
    assert max_s1 <= min_s2
    # shard_pos is 1..n within each (stage, shard)
    from collections import defaultdict
    groups = defaultdict(list)
    for r in rows:
        groups[(r.stage, r.shard)].append(r.shard_pos)
    for pos in groups.values():
        assert sorted(pos) == list(range(1, len(pos) + 1))


def test_curriculum_order_rejects_bad_stage_count(docs):
    import pytest as _pytest

    from dask_sql_spark.operators.llmprep import curriculum_order

    with _pytest.raises(ValueError):
        curriculum_order(docs, n_stages=3)


def test_touch_attribution_windows(spark):
    import datetime as dt

    from dask_sql_spark.operators.events import touch_attribution

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: click -> purchase 1h later (credited), then a second
        # purchase 10 days after the click (first-touch only)
        (1, t0, 1, "click", 0.0),
        (2, t0 + dt.timedelta(hours=1), 1, "purchase", 5.0),
        (3, t0 + dt.timedelta(days=10), 1, "purchase", 7.0),
        # user 2: purchase with no touch at all
        (4, t0, 2, "purchase", 3.0),
        # user 2: later click then purchase same instant (click id sorts
        # first at the tied timestamp, so it IS visible to the window)
        (5, t0 + dt.timedelta(days=1), 2, "click", 0.0),
        (6, t0 + dt.timedelta(days=1), 2, "purchase", 9.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, "
              "event_type STRING, value DOUBLE"
    )
    out = {r.event_id: r for r in touch_attribution(ev).collect()}
    assert set(out) == {2, 3, 4, 6}
    assert out[2].first_touch_id == 1 and out[2].last_touch_id == 1
    assert out[2].last_touch_lag_s == 3600.0
    # outside the 7-day window: last-touch credit dropped, lifetime
    # first-touch retained
    assert out[3].first_touch_id == 1 and out[3].last_touch_id is None
    assert out[3].last_touch_lag_s is None
    assert out[4].first_touch_id is None and out[4].last_touch_id is None
    assert out[6].last_touch_id == 5 and out[6].last_touch_lag_s == 0.0


def test_rake_keyphrases_scoring(spark):
    import pandas as pd

    from dask_sql_spark.operators.text import rake_keyphrases

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1],
                "text": [
                    "deep learning is the best, deep learning wins",
                    "learning rates matter in deep learning",
                ],
            }
        )
    )
    out = {r.phrase: r for r in rake_keyphrases(docs, k=10).collect()}
    # phrases: doc0 -> [deep learning], [best], [deep learning wins]
    #          doc1 -> [learning rates matter], [deep learning]
    # (comma is a boundary; stopwords is/the/in split runs)
    assert out["deep learning"].n_occurrences == 2
    # deep: freq 3, degree 2+2+3=7 -> 2333333; learning: freq 4,
    # degree 2+2+3+3=10 -> 2500000
    assert out["deep learning"].score_micro == 2_333_333 + 2_500_000
    # the 3-word run outranks everything; singletons score 1.0
    assert out["deep learning wins"].score_micro == 7_833_333
    assert out["best"].score_micro == 1_000_000
    assert out["deep learning"].score_micro > out["best"].score_micro


def test_triangle_audit_handcrafted(spark):
    from dask_sql_spark.operators.graph import triangle_audit

    # 0-1-2 is a triangle; 3 hangs off 0; 4-5 is an isolated edge
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (0, 3), (4, 5)], "id_a LONG, id_b LONG"
    )
    out = {r.node: r for r in triangle_audit(edges).collect()}
    assert out[0].degree == 3 and out[0].n_triangles == 1
    assert out[1].n_triangles == 1 and out[2].n_triangles == 1
    assert out[3].degree == 1 and out[3].n_triangles == 0
    assert out[0].n_wedges == 3  # C(3,2)
    # clustering: node0 = 2*1/(3*2) = 1/3; triangle-only nodes = 1.0
    assert abs(out[0].clustering - 1 / 3) < 1e-12
    assert out[1].clustering == 1.0
    assert out[4].clustering == 0.0 and out[5].clustering == 0.0


def test_centroid_drift_identical_and_rotated(spark):
    from dask_sql_spark.operators.similarity import centroid_drift

    a = spark.createDataFrame(
        [(0, [1.0, 0.0], 1), (1, [1.0, 0.2], 1), (2, [0.0, 1.0], 2)],
        "vec_id INT, embedding ARRAY<DOUBLE>, label INT",
    )
    # identical snapshots -> drift_cos == 1 for every label
    same = {r.label: r for r in centroid_drift(a, a).collect()}
    assert all(abs(r.drift_cos - 1.0) < 1e-9 for r in same.values())
    # label-2 centroid rotated 90 degrees -> drift 0; label 1 untouched
    b = spark.createDataFrame(
        [(0, [1.0, 0.0], 1), (1, [1.0, 0.2], 1), (2, [1.0, 0.0], 2)],
        "vec_id INT, embedding ARRAY<DOUBLE>, label INT",
    )
    rot = {r.label: r for r in centroid_drift(a, b).collect()}
    assert abs(rot[1].drift_cos - 1.0) < 1e-9
    assert abs(rot[2].drift_cos) < 1e-9


def test_connected_components_long_path(spark):
    """Round-5 regression guard for the localCheckpoint LP loop: a
    diameter-9 path needs several propagation rounds (the shallow
    handcrafted graph above converges in 2) — exercises the truncated
    per-iteration lineage and the monotonic label-sum fixpoint test."""
    from dask_sql_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 109)]  # path 100-...-109
        + [(500, 501)],
        "id_a LONG, id_b LONG",
    )
    comp = {r.id: r.comp for r in connected_components(edges).collect()}
    assert all(comp[v] == 100 for v in range(100, 110))
    assert comp[500] == 500 and comp[501] == 500


def test_fuzzy_levenshtein_threshold_exactness(spark):
    """The thresholded levenshtein verify must keep in-bound distances
    exact and exclude pairs above max_dist even when segment blocking
    pairs them."""
    from dask_sql_spark.operators.dedup import fuzzy_levenshtein_pairs

    base = "the quick brown fox jumps over the lazy dog again"
    rows = [
        (1, base),
        (2, base[:-1] + "x"),          # distance 1
        (3, base + " xxxxxxxxxx"),     # same prefix, distance 11 > 8
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {(r.id_a, r.id_b): r.dist for r in fuzzy_levenshtein_pairs(df).collect()}
    assert out[(1, 2)] == 1
    assert (1, 3) not in out and (2, 3) not in out


def test_repetition_signals_handcrafted(spark):
    """In-row rewrite (round 5) value pins: all-identical tokens, the
    single-token doc (no bigrams -> 0.0), and a mixed doc."""
    from dask_sql_spark.operators.text import repetition_signals

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),   # 4 tokens, 1 distinct
            (2, "word"),                  # single token
            (3, "a b a b"),               # 4 tokens, 2 distinct
        ],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r for r in repetition_signals(df).collect()}
    r1 = out[1]
    assert r1.n_tokens == 4 and r1.dup_token_frac == 0.75
    assert r1.top_token_frac == 1.0
    assert r1.dup_bigram_frac == 1.0 - 1.0 / 3.0  # 3 bigrams, 1 distinct
    r2 = out[2]
    assert r2.n_tokens == 1 and r2.dup_bigram_frac == 0.0
    assert r2.top_token_frac == 1.0
    r3 = out[3]
    assert r3.dup_token_frac == 0.5 and r3.top_token_frac == 0.5
    # bigrams: "a b","b a","a b" -> 3 total, 2 distinct
    assert abs(r3.dup_bigram_frac - (1.0 - 2.0 / 3.0)) < 1e-12


# ----------------- round-5 review-fix regressions ----------------- #
def test_connected_components_string_ids(spark):
    """Non-numeric vertex ids use the changed-label join fixpoint (the
    decimal-sum test would throw under ANSI on a string cast, or falsely
    converge on floats). Chain with diameter 3 so a single propagation
    step is provably not enough."""
    from dask_sql_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "id_a STRING, id_b STRING",
    )
    comp = {r.id: r.comp for r in connected_components(edges).collect()}
    assert comp == {
        "a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x",
    }


def test_connected_components_decimal_scale_ids(spark):
    """DECIMAL(p, s>0) ids must NOT take the decimal(38,0)-sum fixpoint:
    the cast ROUNDS (2.4→2, 1.6→2), so distinct label states can alias
    to one sum and falsely converge. This chain is built so that after
    one propagation step the rounded label sum equals the converged
    sum — only the changed-label join detects the difference."""
    from decimal import Decimal

    from dask_sql_spark.operators.graph import connected_components

    # chain 0.6 - 1.4 - 2.4: after iteration 1 labels are
    # {0.6:0.6, 1.4:0.6, 2.4:1.4} (rounded sum 1+1+1=3); converged
    # labels are {0.6,0.6,0.6} (rounded sum 1+1+1=3) — sum-aliased.
    edges = spark.createDataFrame(
        [(Decimal("0.6"), Decimal("1.4")), (Decimal("1.4"), Decimal("2.4"))],
        "id_a DECIMAL(3,1), id_b DECIMAL(3,1)",
    )
    comp = {r.id: r.comp for r in connected_components(edges).collect()}
    assert comp == {
        Decimal("0.6"): Decimal("0.6"),
        Decimal("1.4"): Decimal("0.6"),
        Decimal("2.4"): Decimal("0.6"),
    }


def test_score_wrappers_preserve_caller_columns(docs):
    """A caller-owned column that collides with a NON-requested score
    column (e.g. a user-computed lang_guess on a frame passed to
    add_token_stats) survives with its original values instead of being
    silently replaced by the scorer's heuristic."""
    from pyspark.sql import functions as F

    from dask_sql_spark.operators.text import add_langid, add_token_stats

    tagged = docs.withColumn("lang_guess", F.lit("caller-owned"))
    out = add_token_stats(tagged)
    assert out.columns.count("lang_guess") == 1
    assert {r.lang_guess for r in out.collect()} == {"caller-owned"}
    # requesting the column still replaces it (re-scoring semantics)
    relabel = add_langid(tagged)
    assert "caller-owned" not in {r.lang_guess for r in relabel.collect()}


def test_ngram_jaccard_lists_with_max_df_raises(docs):
    """max_df is applied when BUILDING the shingle→doc lists; passing it
    alongside a caller-supplied lists= relation is a loud error, not a
    silent no-op."""
    import pytest

    from dask_sql_spark.operators.dedup import (
        ngram_doc_lists,
        ngram_jaccard_pairs,
    )

    built = ngram_doc_lists(docs)
    with pytest.raises(ValueError, match="max_df"):
        ngram_jaccard_pairs(docs, lists=built, max_df=100)


def test_resample_fill_null_ts_excluded(spark):
    """NULL-ts events are dropped up front (the spine-join semantics this
    plan replaced): they create no buckets and never seed the forward
    fill."""
    import datetime as dt

    import pandas as pd

    from dask_sql_spark.operators.events import resample_fill

    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 2],
            "ts": [pd.NaT, dt.datetime(2024, 1, 1, 10), pd.NaT],
            "value": [99.0, 1.0, 7.0],
        }
    )
    out = resample_fill(spark.createDataFrame(pdf)).toPandas()
    assert set(out.user_id) == {1}  # user 2 had only NULL-ts events
    assert len(out) == 1 and out.filled_value.tolist() == [1.0]


def test_score_wrappers_replace_existing_columns(docs):
    """Re-scoring an already-scored frame replaces the output columns
    (withColumn semantics) instead of duplicating them into an
    AMBIGUOUS_REFERENCE trap."""
    from dask_sql_spark.operators.text import add_langid, add_token_stats

    once = add_token_stats(docs)
    twice = add_token_stats(once)
    assert twice.columns == once.columns
    assert {r.doc_id: r.n_tokens for r in twice.collect()} == {
        r.doc_id: r.n_tokens for r in once.collect()
    }
    lg = add_langid(add_langid(docs))
    assert lg.columns.count("lang_guess") == 1


def test_ngram_doc_lists_passthrough(docs):
    """ngram_jaccard_pairs(lists=...) matches the self-built path, giving
    callers cache-lifecycle control over the persisted intermediate."""
    from dask_sql_spark.operators.dedup import (
        ngram_doc_lists,
        ngram_jaccard_pairs,
    )

    built = ngram_doc_lists(docs).persist()
    via = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            docs, threshold=0.3, lists=built
        ).collect()
    }
    auto = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    built.unpersist()
    assert via == auto and via


def test_degenerate_docs_never_pair(spark):
    """Pinned dedup edge semantics (round-9 audit): empty-string, NULL
    and whitespace-only documents produce NO shingles (the empty gram is
    filtered), so they are absent from signatures and can never pair —
    two empty docs are NOT near-duplicates of each other. Exact dedup,
    by contrast, does group identical empty strings (NULL stays
    distinct from '')."""
    import pandas as pd

    from dask_sql_spark.operators.dedup import (
        exact_duplicates,
        minhash_lsh_pairs,
        shingles,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": ["", "", None, "   ", "real text here ok"],
        }
    )
    docs = spark.createDataFrame(pdf, "doc_id long, text string")
    assert shingles(docs, "doc_id", "text").where(
        "doc_id < 5"
    ).count() == 0
    assert minhash_lsh_pairs(docs, num_perm=16, bands=8).count() == 0
    exact = {
        r.content_hash: (r.keeper_id, r.n_copies)
        for r in exact_duplicates(docs).collect()
    }
    # the two '' docs share one md5 group; NULL text hashes to NULL and
    # forms its own group rather than merging with ''
    empty_md5 = [
        h for h, (k, n) in exact.items() if h is not None and n == 2
    ]
    assert len(empty_md5) == 1 and exact[empty_md5[0]] == (1, 2)
    assert exact[None] == (3, 1)


def test_word_ngrams_matches_python_reference(spark):
    """Exhaustive differential check of the shared gram builder: every
    token list of length 0..5 over a 2-letter alphabet, n in {1,2,3,5},
    both keep_short flavors, against a plain-Python reference — one
    Spark job per (n, flavor)."""
    import itertools

    from pyspark.sql import functions as F

    from dask_sql_spark.operators.text import word_ngrams

    cases = [
        list(t)
        for ln in range(0, 6)
        for t in itertools.product("ab", repeat=ln)
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i LONG, t ARRAY<STRING>"
    )
    for n in (1, 2, 3, 5):
        for keep_short in (False, True):
            got = {
                r.i: r.g
                for r in df.select(
                    "i", word_ngrams(F.col("t"), n, keep_short).alias("g")
                ).collect()
            }
            for i, t in enumerate(cases):
                if len(t) >= n:
                    want = [
                        " ".join(t[j : j + n]) for j in range(len(t) - n + 1)
                    ]
                elif keep_short:
                    want = [" ".join(t)]
                else:
                    want = []
                assert got[i] == want, (n, keep_short, t, got[i], want)


def test_accepted_values_none_in_allowed_list(spark):
    """Pinned round-9 finding: a None inside `allowed` used to nullify
    the IN-negation and report zero violations; it is now stripped and
    real violations still count."""
    from dask_sql_spark.operators.dq import accepted_values

    df = spark.createDataFrame(
        [("a",), ("b",), ("z",), (None,)], "status string"
    )
    row = accepted_values(df, "status", ["a", "b", None]).collect()[0]
    assert row["n_bad"] == 1  # 'z'; NULL is never a violation


def test_fused_checks_quoted_name(spark):
    """Check names containing single quotes survive the stack() unpivot."""
    from dask_sql_spark.operators.dq import fused_checks

    df = spark.createDataFrame([(1,), (None,)], "x int")
    out = {
        r["check"]: r["n_bad"]
        for r in fused_checks(
            df, {"null:'x'": F.count(F.lit(1)) - F.count(F.col("x"))}
        ).collect()
    }
    assert out == {"null:'x'": 1}


def test_fused_checks_backslash_name(spark):
    """Round-10 advisor fix, pinned: a check name containing (or ending
    in) a backslash survives the unpivot — quote-doubling alone left
    backslashes live as escapes inside the spliced stack() literal; the
    names now travel as F.lit Column literals, never spliced SQL."""
    from dask_sql_spark.operators.dq import fused_checks

    df = spark.createDataFrame([(1,), (None,)], "x int")
    names = ["path:c:\\tmp\\", "mix:'\\n'", "back\\slash"]
    out = {
        r["check"]: r["n_bad"]
        for r in fused_checks(
            df,
            {
                n: F.count(F.lit(1)) - F.count(F.col("x"))
                for n in names
            },
        ).collect()
    }
    assert out == {n: 1 for n in names}


def test_tokens_unicode_semantics_pinned(spark):
    """Round-9 unicode probe, pinned: tokenization is ASCII-whitespace
    (NBSP and zero-width space stay inside tokens — same as the DuckDB
    oracle's RE2, unlike Python's str.split), CJK/emoji/RTL pass
    through as opaque tokens, and tab/newline split."""
    from dask_sql_spark.operators.text import token_count, tokens

    rows = [
        ("nbsp", "a b", 1),
        ("zwsp", "a​b", 1),
        ("cjk", "你好 世界", 2),
        ("tab_nl", "a\tb\nc", 3),
        ("rtl", "مرحبا بالعالم", 2),
    ]
    df = spark.createDataFrame(
        [(k, t) for k, t, _ in rows], "k string, t string"
    )
    got = {
        r["k"]: (r["n"], r["toks"])
        for r in df.select(
            "k",
            tokens(F.col("t")).alias("toks"),
            token_count(F.col("t")).alias("n"),
        ).collect()
    }
    for k, _, n in rows:
        assert got[k][0] == n, (k, got[k])
    assert got["nbsp"][1] == ["a b"]


def test_turkish_dotted_i_cross_engine_caveat_documented(spark):
    """The documented Java-vs-DuckDB lower('İ') divergence: Java emits
    i + COMBINING DOT ABOVE. If this test ever fails, the JVM changed
    its special casing — re-check the tokens() docstring caveat."""
    import duckdb

    s = spark.sql("SELECT lower('İ') AS x").collect()[0]["x"]
    d = duckdb.sql("SELECT lower('İ')").fetchone()[0]
    assert s == "i̇" and d == "i" and s != d


def test_brute_force_topk_matches_python_fold_model(spark):
    """Round-9 differential: exact top-k vs a pure-Python model that
    reproduces cosine()'s SEQUENTIAL left-fold (same IEEE-double op
    order as the JVM), so scores match bitwise and the (cos desc, id)
    tie-break is checked exactly — including near-tie vectors that a
    numpy-dot model (different summation order) could rank differently."""
    import random

    from dask_sql_spark.operators.similarity import brute_force_topk

    rng = random.Random(7)
    vecs = {
        i: [round(rng.uniform(-1, 1), 3) for _ in range(8)] for i in range(30)
    }
    vecs[3] = list(vecs[2])  # exact duplicate → exact cosine tie
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    queries = emb.where(F.col("vec_id") < 4)
    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    )

    def fold_cos(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot = dot + x * y
        na = nb = 0.0
        for x in a:
            na = na + x * x
        for y in b:
            nb = nb + y * y
        return dot / (na**0.5 * nb**0.5)

    want = []
    for qid in range(4):
        scored = sorted(
            ((fold_cos(vecs[qid], v), -i) for i, v in vecs.items() if i != qid),
            key=lambda t: (t[0], t[1]),
            reverse=True,
        )
        for rank, (c, negi) in enumerate(scored[:5], start=1):
            want.append((qid, rank, -negi))
    assert got == sorted(want)


def test_brute_force_topk_zero_vector_null_pinned(spark):
    """Pinned round-9 finding: under the ANSI session default a zero
    corpus vector used to raise DIVIDE_BY_ZERO and abort the whole
    top-k job; cosine() now try_divides, the zero vector's NULL score
    ranks LAST, and threshold screens drop it."""
    from dask_sql_spark.operators.dedup import cosine
    from dask_sql_spark.operators.similarity import brute_force_topk

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rows = brute_force_topk(emb, emb.where("vec_id = 0"), k=2).collect()
    by_rank = {r["rank"]: r["neighbor_id"] for r in rows}
    assert by_rank == {1: 1, 2: 2}  # real hit first, NULL(zero-vec) last
    nulls = (
        emb.alias("a")
        .crossJoin(emb.alias("b"))
        .select(
            F.col("a.embedding").alias("ea"), F.col("b.embedding").alias("eb")
        )
        .select(cosine("ea", "eb").alias("c"))
        .where(F.col("c").isNull())
        .count()
    )
    assert nulls == 5  # every pair touching the zero vector


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_features_differential_vs_pandas_model(spark, seed):
    """Round-10: seeded differential of winsorize / robust_zscore against
    a plain-pandas model — NULLs, ties, singleton groups, and a zero-IQR
    group included. Percentile formula: linear interpolation (Spark
    `percentile` == numpy `quantile(method='linear')`), bounds rounded
    to 6 digits exactly as the operators do."""
    import random

    import numpy as np
    import pandas as pd

    from dask_sql_spark.operators.features import robust_zscore, winsorize

    rng = random.Random(seed)
    rows = []
    for i in range(300):
        g = rng.choice(["a", "b", "c", "zero_iqr", "single"])
        if g == "zero_iqr":
            v = 7.0
        elif g == "single" and any(r[1] == "single" for r in rows):
            g = "a"
            v = rng.choice([None, round(rng.uniform(-50, 50), 3)])
        else:
            v = rng.choice(
                [None, 0.0, 1.0, 1.0, round(rng.uniform(-50, 50), 3)]
            )
        rows.append((i, g, v))
    pdf = pd.DataFrame(rows, columns=["id", "g", "v"])
    df = spark.createDataFrame(pdf.astype({"v": "float64"}))

    got_w = {
        r["id"]: r["v_w"]
        for r in winsorize(df, "v", group_cols=["g"], p_lo=0.1, p_hi=0.9).collect()
    }
    got_z = {
        r["id"]: r["v_rz"]
        for r in robust_zscore(df, "v", group_cols=["g"]).collect()
    }
    for g, grp in pdf.groupby("g"):
        vals = grp["v"].dropna().to_numpy(dtype="float64")
        if len(vals) == 0:
            # all-NULL group: no bounds exist, every output is NULL
            for _, r in grp.iterrows():
                assert got_w[r["id"]] is None and got_z[r["id"]] is None
            continue
        lo = round(float(np.quantile(vals, 0.1)), 6)
        hi = round(float(np.quantile(vals, 0.9)), 6)
        q1 = round(float(np.quantile(vals, 0.25)), 6)
        med = round(float(np.quantile(vals, 0.5)), 6)
        q3 = round(float(np.quantile(vals, 0.75)), 6)
        for _, r in grp.iterrows():
            i = r["id"]
            if pd.isna(r["v"]):
                assert got_w[i] is None, (g, i)
                assert got_z[i] is None, (g, i)
                continue
            assert abs(got_w[i] - min(max(r["v"], lo), hi)) < 1e-12, (g, i)
            if q3 - q1 > 0:
                want = round((r["v"] - med) / (q3 - q1), 6)
                assert abs(got_z[i] - want) < 1e-12, (g, i)
            else:
                assert got_z[i] is None, (g, i)


def test_mmr_candidate_window_is_narrow(spark, emb):
    """Round-10 scale fix, pinned: mmr_rerank ranks candidates WITHOUT
    the vector payload (vb rejoined only for the survivors) — carrying
    the 64-double array through the per-query window exchange measured
    321 s vs 16 s for the identical selection at sf100. The candidate
    window's exchange must not reference vb, and the selection itself is
    unchanged (greedy MMR semantics covered by the value gate and the
    diversity test above)."""
    from pyspark.sql import functions as F

    from dask_sql_spark.operators.similarity import mmr_rerank

    qs = emb.where(F.col("vec_id").isin(0, 2))
    out = mmr_rerank(emb, qs, k=3, n_candidates=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the ranking exchange carries only (query_id, id_b, cos)
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(query_id[^\n]*", plan):
        assert "vb" not in m.group(0), m.group(0)
    got = {(r.query_id, r.step): r.selected_id for r in out.collect()}
    assert len(got) == 6  # 2 queries x 3 steps, selection intact
