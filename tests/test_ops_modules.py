"""Tests for keyfilter, cmdqueue, metrics, and the pipeline ops modules."""

import json
from decimal import Decimal

import pytest

from pyspark.sql import functions as F

from aardappel_spark.cmdqueue import parse_commands, resolve_problem_actions
from aardappel_spark.keyfilter import filter_blocked_keys, serialize_key_col
from aardappel_spark.metrics import MetricsRegistry
from aardappel_spark.ops.dedup import minhash_candidate_pairs, simhash
from aardappel_spark.ops.multimodal import MEDIA_SCHEMA, extract_features, sample_frames
from aardappel_spark.ops.similarity import brute_force_topk, lsh_bucket_topk
from aardappel_spark.types import CDC_EVENT_SCHEMA


# -- key filter (C2, F3, J1) -------------------------------------------------


def test_serialize_key_byte_layout(spark):
    # key_serializer_test.go:8-31: fmt byte + path + fragments
    df = spark.createDataFrame([(["k1", "k2"],)], ["key"])
    [r] = df.select(serialize_key_col("key", "t1").alias("b")).collect()
    assert bytes(r.b) == b"\x01t1k1k2"
    df2 = spark.createDataFrame([([],)], "key array<string>")
    [r2] = df2.select(serialize_key_col("key", "t1").alias("b")).collect()
    assert bytes(r2.b) == b"\x01t1"


def ev(key, step, seq):
    return (0, 0, seq, "update", [str(k) for k in key], {}, Decimal(step), Decimal(1), seq)


def test_blocked_key_filter(spark):
    events = spark.createDataFrame([ev([1], 1, 0), ev([2], 2, 1), ev([3], 3, 2)], CDC_EVENT_SCHEMA)
    blocked = spark.createDataFrame(
        [(bytearray(b"\x01users2"),), (bytearray(b"\x01users9"),)], "key binary"
    )
    out = filter_blocked_keys(events, blocked, table_path="users")
    assert sorted(r.key[0] for r in out.collect()) == ["1", "3"]
    assert "_filter_key" not in out.columns


def test_blocked_key_filter_scales_without_shuffle(spark):
    events = spark.createDataFrame([ev([1], 1, 0)], CDC_EVENT_SCHEMA)
    blocked = spark.createDataFrame([(bytearray(b"\x01x1"),)], "key binary")
    plan = (
        filter_blocked_keys(events, blocked, table_path="x")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan


# -- command queue (S12, J2) -------------------------------------------------


def cmd(uid, step, tx, action, inst="inst1", path="/topic/a"):
    return json.dumps(
        {
            "aardapel_instance_id": inst,
            "path": path,
            "key": [uid],
            "ts": [step, tx],
            "action": action,
        }
    )


def test_command_match_last_wins(spark):
    problems = spark.createDataFrame([ev([42], 7, 0)], CDC_EVENT_SCHEMA)
    raw = spark.createDataFrame(
        [
            (cmd(42, 7, 1, "skip"),),
            (cmd(42, 7, 1, "apply"),),  # later command wins
            (cmd(42, 7, 1, "bogus"),),  # invalid -> ignored
            (cmd(42, 9, 9, "skip"),),  # different position
            (cmd(42, 7, 1, "skip", inst="other"),),  # other instance
        ],
        ["value"],
    )
    cmds = parse_commands(raw)
    out = resolve_problem_actions(problems, cmds, "inst1", "/topic/a").collect()
    assert len(out) == 1
    assert out[0].action == "apply"


def test_command_no_match_gives_null(spark):
    problems = spark.createDataFrame([ev([1], 1, 0)], CDC_EVENT_SCHEMA)
    cmds = parse_commands(spark.createDataFrame([(cmd(2, 1, 1, "skip"),)], ["value"]))
    [r] = resolve_problem_actions(problems, cmds, "inst1", "/topic/a").collect()
    assert r.action is None


# -- metrics (S14) -----------------------------------------------------------


def test_metrics_vocabulary_renders():
    reg = MetricsRegistry()
    reg.on_batch_applied(
        modifications=100,
        per_table={"orders": 60, "users": 40},
        commit_seconds=0.2,
        quorum_wait_seconds=0.01,
        quorum_step_ms=1_700_000_000_000,
        request_bytes=1234,
    )
    reg.on_heartbeat_missing("orders", True)
    text = reg.render_prometheus()
    for needle in [
        "modifications_count 100",
        'modifications_count_per_table{stream_tag="orders"} 60',
        "request_size_bytes 1234",
        "commit_latency_count 1",
        "quorum_waiting_latency_count 1",
        "replication_lag_estimation",
        'topic_without_hb{stream_tag="orders"} 1',
    ]:
        assert needle in text, needle
    assert reg.last_batch_mps == 500.0


# -- pipeline ops ------------------------------------------------------------


def test_minhash_finds_exact_duplicates(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "a completely different text with other words entirely"),
        ],
        ["doc_id", "text"],
    )
    pairs = minhash_candidate_pairs(docs).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(1, 2)]


def test_simhash_similar_docs_close(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark sql query engine with adaptive execution"),
            (2, "spark sql query engine with adaptive optimization"),
            (3, "completely unrelated banana apple orange fruit salad"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.simhash for r in simhash(docs, bits=16).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(out[1], out[2]) < ham(out[1], out[3])


def test_lsh_topk_subset_of_bruteforce_ordering(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    bf = brute_force_topk(emb, query_id=0, k=5)
    lsh = lsh_bucket_topk(emb, query_id=0, k=5, bits=4)
    bf_rows = bf.collect()
    lsh_rows = lsh.collect()
    assert len(bf_rows) == 5
    # LSH returns candidates from the query's bucket only — every hit must
    # also appear in the full ranking with the same similarity
    sims = {r.vec_id: r.sim for r in brute_force_topk(emb, query_id=0, k=10**6).collect()}
    for r in lsh_rows:
        assert abs(sims[r.vec_id] - r.sim) < 1e-9


# -- multimodal plumbing -----------------------------------------------------


def _bmp_bytes(w, h, compression=0):
    import struct

    row = (3 * w + 3) // 4 * 4
    px = row * h
    return (
        b"BM"
        + struct.pack("<III", 54 + px, 0, 54)
        + struct.pack("<Iii", 40, w, h)
        + struct.pack("<HH", 1, 24)
        + struct.pack("<IIIIII", compression, px, 2835, 2835, 0, 0)
        + bytes(px)
    )


def _wav_bytes(channels, rate, n_samples, chunk_order="canonical"):
    import struct

    data = bytes(n_samples * channels * 2)
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2,
                      channels * 2, 16)
    chunks = [(b"fmt ", fmt), (b"data", data)]
    if chunk_order == "reversed":
        # a LIST chunk first, then data before fmt: the walker must cope
        chunks = [(b"LIST", b"INFOxy"), (b"data", data), (b"fmt ", fmt)]
    body = b"WAVE"
    for cid, payload in chunks:
        body += cid + struct.pack("<I", len(payload)) + payload
        if len(payload) % 2:
            body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_decode_header_real_formats():
    """The decode is a REAL header parse now: hand-crafted BMP/PPM/WAV
    bytes decode to their ground-truth dimensions, including a
    non-canonical WAV chunk order and a commented plain-PPM header;
    compressed formats refuse instead of fabricating."""
    from aardappel_spark.ops.multimodal import decode_header

    d = decode_header(_bmp_bytes(13, 7))
    assert (d["format"], d["width"], d["height"], d["n_channels"]) == (
        "bmp", 13, 7, 3)
    # top-down BMP stores negative height
    import struct as _s

    td = bytearray(_bmp_bytes(5, 4))
    td[22:26] = _s.pack("<i", -4)
    assert decode_header(bytes(td))["height"] == 4

    d = decode_header(b"P6\n# a comment\n640 480\n255\n" + bytes(10))
    assert (d["format"], d["width"], d["height"], d["n_channels"]) == (
        "ppm", 640, 480, 3)
    d = decode_header(b"P3\n2 3\n255\n" + b" ".join(b"7" for _ in range(18)))
    assert (d["width"], d["height"]) == (2, 3)
    d = decode_header(b"P5 9 8 255 " + bytes(72))
    assert (d["format"], d["n_channels"]) == ("pgm", 1)

    for order in ("canonical", "reversed"):
        d = decode_header(_wav_bytes(2, 16000, 1600, order))
        assert (d["format"], d["n_channels"], d["sample_rate"],
                d["n_samples"], d["duration_ms"]) == ("wav", 2, 16000, 1600, 100)

    import pytest as _pytest

    for bad in (
        b"RIFF\x10\x00\x00\x00WEBPVP8 " + bytes(8),
        _bmp_bytes(4, 4, compression=1),  # BI_RLE8
    ):
        with _pytest.raises(NotImplementedError):
            decode_header(bad)
    for bad in (
        # metadata-less ftyp stub: the declared box size overruns the
        # payload (r10: ISO-BMFF is now parsed for real, so a truncated
        # container is a malformed-input error, not a codec refusal)
        b"\x00\x00\x00\x18ftypisom" + bytes(8),
        b"BM\x01\x02",                       # truncated BMP
        b"\x89PNG\r\n\x1a\n" + bytes(16),    # truncated before IHDR end
        b"\x89PNG\r\n\x1a\n" + bytes(32),    # first chunk not IHDR
        b"\xff\xd8\xff\xe0" + bytes(16),     # APP0 with seg_len 0
        b"\xff\xd8\xff\xd9",                 # SOI+EOI, no SOF
        b"GIF89a\x05",                       # truncated GIF
    ):
        with _pytest.raises(ValueError):
            decode_header(bad)


def _png_bytes(width, height, color_type=2):
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    chunk = b"IHDR" + ihdr
    return (b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", len(ihdr)) + chunk
            + struct.pack(">I", zlib.crc32(chunk))
            + struct.pack(">I", 0) + b"IEND"
            + struct.pack(">I", zlib.crc32(b"IEND")))


def _jpeg_bytes(width, height, n_comp=3, extra_segments=2):
    import struct

    out = b"\xff\xd8"
    # several APPn/COM segments BEFORE the SOF — the walk must skip them
    for k in range(extra_segments):
        body = b"x" * (5 + 3 * k)
        out += bytes([0xFF, 0xE1 + k]) + struct.pack(">H", 2 + len(body)) + body
    comps = b"".join(bytes([i + 1, 0x11, 0]) for i in range(n_comp))
    sof = struct.pack(">BHHB", 8, height, width, n_comp) + comps
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof  # SOF2
    return out + b"\xff\xd9"


def test_decode_header_compressed_format_dims():
    """PNG/GIF/JPEG dimensions come straight from the header — no codec
    (r8 verdict #7). PNG via IHDR (incl. color-type channel map), GIF
    via the little-endian logical screen descriptor (87a and 89a), JPEG
    via a marker walk that skips arbitrary APPn segments and fill bytes
    to any SOFn. Also: the canonical 1x1 transparent PNG decodes."""
    from aardappel_spark.ops.multimodal import decode_header

    for ct, ch in [(0, 1), (2, 3), (3, 1), (4, 2), (6, 4)]:
        d = decode_header(_png_bytes(640, 480, ct))
        assert (d["format"], d["width"], d["height"], d["n_channels"]) == (
            "png", 640, 480, ch)
    # the well-known 1x1 transparent PNG (public fixture bytes)
    import base64
    one = base64.b64decode(
        "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mNk"
        "YPhfDwAChwGA60e6kgAAAABJRU5ErkJggg=="
    )
    d = decode_header(one)
    assert (d["format"], d["width"], d["height"]) == ("png", 1, 1)

    import struct

    for ver in (b"GIF87a", b"GIF89a"):
        g = ver + struct.pack("<HH", 320, 200) + bytes(3) + b";"
        d = decode_header(g)
        assert (d["format"], d["width"], d["height"], d["n_channels"]) == (
            "gif", 320, 200, 3)

    for n_comp in (1, 3):
        for extra in (0, 1, 4):
            d = decode_header(_jpeg_bytes(123, 45, n_comp, extra))
            assert (d["format"], d["width"], d["height"],
                    d["n_channels"]) == ("jpeg", 123, 45, n_comp)
    # fill bytes between segments are legal padding
    j = _jpeg_bytes(9, 7)
    padded = j[:2] + b"\xff" * 3 + j[2:]
    assert decode_header(padded)["width"] == 9


def test_decode_wav_zero_fields_raise_valueerror():
    """A malformed-but-parseable WAV with zero channels / bits / rate
    must raise ValueError (caught by extract_features -> format
    'unsupported'), not ZeroDivisionError, which would kill the whole
    Spark task (r8 ADVICE item)."""
    import struct

    import pytest as _pytest

    from aardappel_spark.ops.multimodal import decode_header, extract_features

    def wav_with(channels, rate, bits):
        fmt = struct.pack("<HHIIHH", 1, channels, rate,
                          rate * channels * 2, channels * 2, bits)
        body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", 8) + bytes(8))
        return b"RIFF" + struct.pack("<I", len(body)) + body

    for ch, rate, bits in [(0, 8000, 16), (1, 0, 16), (1, 8000, 0)]:
        with _pytest.raises(ValueError):
            decode_header(wav_with(ch, rate, bits))


def test_extract_features_degrades_on_zero_field_wav(spark):
    """End-to-end: one corrupt zero-channel WAV in a batch must come
    back format='unsupported' with NULL dims — never kill the task."""
    import struct

    from aardappel_spark.ops.multimodal import MEDIA_SCHEMA, extract_features

    fmt = struct.pack("<HHIIHH", 1, 0, 8000, 0, 0, 16)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", 8) + bytes(8))
    bad = b"RIFF" + struct.pack("<I", len(body)) + body
    rows = [
        (1, "audio", "audio/wav", bytearray(bad)),
        (2, "audio", "audio/wav", bytearray(_wav_bytes(1, 8000, 400))),
    ]
    out = {r.media_id: r for r in
           extract_features(spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()}
    assert out[1].format == "unsupported" and out[1].sample_rate is None
    assert out[2].format == "wav" and out[2].n_samples == 400


def _media(spark):
    rows = [
        (1, "image", "image/bmp", bytearray(_bmp_bytes(13, 7))),
        (2, "video", "video/mp4",
         bytearray(b"\x00\x00\x00\x18ftypisom" + bytes(8))),
        (3, "audio", "audio/wav", bytearray(_wav_bytes(1, 8000, 400))),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_multimodal_feature_extraction(spark):
    out = {r.media_id: r for r in extract_features(_media(spark)).collect()}
    assert (out[1].format, out[1].width, out[1].height) == ("bmp", 13, 7)
    # unsupported codec -> honest NULLs, never fabricated dims
    assert out[2].format == "unsupported" and out[2].width is None
    assert (out[3].format, out[3].sample_rate, out[3].duration_ms) == (
        "wav", 8000, 50)
    assert out[3].n_bytes == len(_wav_bytes(1, 8000, 400))
    import hashlib

    assert out[1].digest == hashlib.md5(_bmp_bytes(13, 7)).hexdigest()


def test_multimodal_frame_sampling(spark):
    frames = sample_frames(_media(spark), every_n=50).collect()
    assert len(frames) >= 1
    assert all(f.media_id == 2 for f in frames)
    assert all(len(bytes(f.frame)) == 16 for f in frames)


def test_video_frame_summary_matches_two_node_pipeline(spark, sf_dir):
    """r14 fusion (r13 verdict #6): the single-MapInPandas
    video_frame_summary must emit row-for-row what the two-node
    extract_features + sample_frames/groupBy/join pipeline emitted,
    over real synthetic_media payloads including the truncated-ftyp
    refusal arm (dropped by both shapes)."""
    from pyspark.sql import functions as F

    from aardappel_spark.ops.multimodal import (
        extract_features,
        sample_frames,
        synthetic_media,
        video_frame_summary,
    )
    from aardappel_spark.registry import _docs

    media = synthetic_media(_docs(spark, sf_dir).limit(140))
    fused = {
        r.media_id: (r.n_frames, r.n_sampled, r.last_frame_no)
        for r in video_frame_summary(media, every_n=10).collect()
    }
    feats = extract_features(
        media.filter(F.col("kind") == "video")
    ).filter(F.col("format") == "mp4").select(
        "media_id", F.col("n_samples").cast("bigint").alias("n_frames")
    )
    agg = sample_frames(media, every_n=10).groupBy("media_id").agg(
        F.count("*").cast("bigint").alias("n_sampled"),
        F.max("frame_no").cast("bigint").alias("last_frame_no"),
    )
    legacy = {
        r.media_id: (r.n_frames, r.n_sampled, r.last_frame_no)
        for r in feats.join(agg, "media_id").collect()
    }
    assert fused and fused == legacy


def test_cosine_neardup_exact_vs_lsh(spark, sf_dir):
    from aardappel_spark.ops.similarity import cosine_neardup_lsh, cosine_neardup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {(r.id_a, r.id_b): r.sim for r in cosine_neardup_pairs(emb, 0.45).collect()}
    lsh = {(r.id_a, r.id_b): r.sim for r in cosine_neardup_lsh(emb, 0.45, bits=2).collect()}
    # LSH candidates are a subset of the exact result with identical sims
    for k, v in lsh.items():
        assert k in exact and abs(exact[k] - v) < 1e-9


def test_funnel_matches_python_model(spark):
    """Randomized funnel equivalence: the stage-wise min-timestamp joins
    must agree with a straightforward per-user Python scan (strictly
    increasing view < click < purchase chain, earliest-first greedy)."""
    import random

    rng = random.Random(31)
    rows = []
    for i in range(600):
        rows.append(
            (
                i,
                rng.randrange(40),  # user
                rng.choice(["view", "click", "purchase", "error"]),
                rng.randrange(10**6) * 1000,  # nanos, micro-aligned
            )
        )
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts long"
    )

    from pyspark.sql import functions as F

    ev = df.select("user_id", "event_type", F.expr("ts div 1000").alias("mic"))
    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("mic").alias("t1")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("mic") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("mic").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("mic") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("mic").alias("t3"))
    )
    got = (v.count(), c.count(), p.count())

    # python model
    by_user = {}
    for _eid, u, t, ts in rows:
        by_user.setdefault(u, []).append((ts // 1000, t))
    n1 = n2 = n3 = 0
    for evs in by_user.values():
        t1 = min((m for m, t in evs if t == "view"), default=None)
        if t1 is None:
            continue
        n1 += 1
        t2 = min((m for m, t in evs if t == "click" and m > t1), default=None)
        if t2 is None:
            continue
        n2 += 1
        if any(t == "purchase" and m > t2 for m, t in evs):
            n3 += 1
    assert got == (n1, n2, n3)


def test_retention_matches_python_model(spark):
    """Cohort-triangle equivalence against a dict-based model, including
    users active in non-contiguous weeks."""
    import random

    rng = random.Random(17)
    week_us = 7 * 86400 * 1_000_000
    rows = [
        (i, rng.randrange(25), rng.randrange(8 * week_us) * 1000)  # nanos
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts long")

    from pyspark.sql import functions as F

    ev = df.select("user_id", F.expr(f"(ts div 1000) div {week_us}").alias("wk"))
    cohort = ev.groupBy("user_id").agg(F.min("wk").alias("cw"))
    got = {
        (r.cohort_week, r.week_offset): r.n_users
        for r in ev.distinct()
        .join(cohort, "user_id")
        .groupBy(
            F.col("cw").alias("cohort_week"),
            (F.col("wk") - F.col("cw")).alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
        .collect()
    }

    weeks_by_user = {}
    for _eid, u, ts in rows:
        weeks_by_user.setdefault(u, set()).add((ts // 1000) // week_us)
    expected = {}
    for wks in weeks_by_user.values():
        cw = min(wks)
        for w in wks:
            expected[(cw, w - cw)] = expected.get((cw, w - cw), 0) + 1
    assert got == expected


def test_edit_distance_pairs_exact_values(spark):
    """Levenshtein verify on a hand-built pair set with known distances
    (insert, substitute, identical, and beyond-prefix edits ignored)."""
    from aardappel_spark.ops.dedup import edit_distance_pairs

    docs = spark.createDataFrame(
        [
            (1, "kitten sat on the mat"),
            (2, "sitting sat on the mat"),
            (3, "kitten sat on the mat"),
            (4, "a" * 40 + "x" * 100),
            (5, "a" * 40 + "y" * 100),
        ],
        ["doc_id", "text"],
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5)], ["doc_a", "doc_b"]
    )
    got = {
        (r.doc_a, r.doc_b): r.edit_dist
        for r in edit_distance_pairs(docs, pairs, prefix_len=40).collect()
    }
    # kitten->sitting is the classic distance-3 pair; identical texts 0;
    # docs 4/5 differ only past the 40-char prefix -> distance 0
    assert got == {(1, 2): 3, (1, 3): 0, (4, 5): 0}


def test_countmin_estimate_dominates_true_count(spark, sf_dir):
    """Count-min invariant: for every token, the sketch estimate
    (min over the 4 hash rows of its cell totals) is >= the true count,
    and equals it when the token's cells have no collisions."""
    from aardappel_spark import registry
    from pyspark.sql import functions as F

    sketch = {
        (r.row, r.col): r.total
        for r in registry.q_vocab_countmin(spark, sf_dir).collect()
    }
    docs = registry._docs(spark, sf_dir)
    true = {
        r.token: r.c
        for r in docs.select(
            F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    import hashlib

    for token, c in true.items():
        est = min(
            sketch[(r, int(hashlib.md5(f"{r}:{token}".encode()).hexdigest()[:7], 16) % 256)]
            for r in range(4)
        )
        assert est >= c, token


def test_hll_registers_match_python_model(spark, sf_dir):
    """HLL register table must equal an exact hashlib model (register =
    low 6 bits of the 60-bit md5 prefix, rho = leading-zero rank of the
    54-bit remainder)."""
    import hashlib

    from aardappel_spark import registry

    got = {
        (r.register, r.max_rho)
        for r in registry.q_events_user_hll(spark, sf_dir).collect()
    }
    users = {
        r.user_id
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id")
        .distinct()
        .collect()
    }
    model: dict[int, int] = {}
    for u in users:
        h = int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16)
        reg, v = h % 64, h >> 6
        rho = 55 if v == 0 else 54 - v.bit_length() + 1
        model[reg] = max(model.get(reg, 0), rho)
    assert got == set(model.items())


def test_clear_query_caches_unpersists(spark, sf_dir):
    """ADVICE r2: the memoized shared frames must be evictable — after
    clear_query_caches the shared-frame table holds none of the session's
    entries and the persisted blocks are released (the JVM's persistent
    RDD count is back where it was before the builds), so cycling
    sessions in one process can't accumulate dead frames. Covers a single
    frame, a (frame, matrix) tuple and the plain LR weight list. Keys are
    applicationId-based (stable, unlike id())."""
    from aardappel_spark import registry, shared_frames

    app = spark.sparkContext.applicationId

    def entries():
        return [k for k in shared_frames._ENTRIES if k[1] == app]

    def persistent_rdds():
        spark.sparkContext._jvm.System.gc()
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    registry.clear_query_caches(spark)
    assert entries() == []
    before = persistent_rdds()

    sig = registry._minhash_sig_cached(spark, sf_dir)
    registry._minhash_pairs_cached(spark, sf_dir).count()
    assigned, _centroids = registry._ivf_build_cached(spark, sf_dir)
    assigned.count()
    weights = registry._lr_weights(spark, sf_dir)  # builds lr_feats too
    assert registry._lr_weights(spark, sf_dir) is weights
    sig.count()  # materialize the persist
    assert sig.storageLevel.useMemory or sig.storageLevel.useDisk
    built = entries()
    assert {"minhash_signatures", "minhash_pairs", "ivf_build",
            "lr_feats", "lr_weights"} <= {k[0] for k in built}
    assert persistent_rdds() > before

    n = registry.clear_query_caches(spark)
    assert n == len(built) >= 5
    assert not (sig.storageLevel.useMemory or sig.storageLevel.useDisk)
    assert not (assigned.storageLevel.useMemory or assigned.storageLevel.useDisk)
    assert entries() == []
    assert persistent_rdds() == before

    # rebuild works after eviction (fresh frame, not the stale one)
    assert registry._minhash_sig_cached(spark, sf_dir) is not sig
    registry.clear_query_caches(spark)


def test_bench_warmups_come_from_shared_frame_table(spark, sf_dir):
    """bench.py warms exactly the shared-frame table's builders (and
    their variants, e.g. the 12-permutation signature) plus the
    streaming-twin kernels — no hand-kept list to drift from the
    builders clear_query_caches evicts. Building the dict runs nothing."""
    import bench
    from aardappel_spark import shared_frames

    names = list(bench.warmup_builds(spark, sf_dir))
    table = [n for fn in shared_frames.BUILDERS.values() for n in fn.warmups]
    assert names == table + ["setsim_stream_kernels"]
    assert {"cdc_parse", "minhash_signatures", "minhash_sig12",
            "minhash_sig12_pairs", "lr_feats"} <= set(names)
    assert len(names) == len(set(names))


def test_cosine_neardup_pairs_refuses_large_input(spark, sf_dir):
    """VERDICT r2: the only cartesian in the codebase must refuse inputs
    above its size guard instead of silently shipping O(n^2) at scale."""
    import pytest

    from aardappel_spark.ops.similarity import cosine_neardup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="cosine_neardup_pairs_blas"):
        cosine_neardup_pairs(emb, 0.45, max_rows=10)


def test_cosine_neardup_blas_matches_expression_impl(spark, sf_dir):
    from aardappel_spark.ops.similarity import (
        cosine_neardup_pairs,
        cosine_neardup_pairs_blas,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = sorted(tuple(r) for r in cosine_neardup_pairs(emb, 0.45).collect())
    b = sorted(tuple(r) for r in cosine_neardup_pairs_blas(emb, 0.45).collect())
    assert a == b


def test_cosine_neardup_blas_block_partitioned(spark, sf_dir):
    """Tiny block_rows forces the multi-block outer loop; every unordered
    pair must appear exactly once and match the expression impl."""
    from aardappel_spark.ops.similarity import (
        cosine_neardup_pairs,
        cosine_neardup_pairs_blas,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = sorted(tuple(r) for r in cosine_neardup_pairs(emb, 0.45).collect())
    blocked = [tuple(r) for r in cosine_neardup_pairs_blas(emb, 0.45, block_rows=7).collect()]
    assert len(blocked) == len(set(blocked)), "pair emitted more than once"
    assert sorted(blocked) == a


def test_ivf_topk_recall_and_sims(spark, sf_dir):
    """IVF tier: returned sims are exact cosines (subset of the
    brute-force ranking's values) and recall@10 is at least the LSH
    bucket tier's on the same corpus/query."""
    from aardappel_spark.ops.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_bucket_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    k = 10
    bf = brute_force_topk(emb, query_id=0, k=k).collect()
    exact_sims = {r.vec_id: r.sim for r in brute_force_topk(emb, query_id=0, k=1000).collect()}
    truth = {r.vec_id for r in bf}

    ivf = ivf_topk(emb, query_id=0, k=k, n_centroids=16, n_probe=8).collect()
    for r in ivf:
        assert abs(exact_sims[r.vec_id] - r.sim) < 1e-9  # exact re-rank

    lsh = lsh_bucket_topk(emb, query_id=0, k=k, bits=6).collect()
    recall_ivf = len(truth & {r.vec_id for r in ivf}) / k
    recall_lsh = len(truth & {r.vec_id for r in lsh}) / k
    assert recall_ivf >= recall_lsh
    assert recall_ivf >= 0.5


def test_ivf_full_probe_equals_brute_force(spark, sf_dir):
    """n_probe == n_centroids degrades IVF to exact brute force."""
    from aardappel_spark.ops.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    bf = [(r.vec_id, r.sim) for r in brute_force_topk(emb, query_id=0, k=10).collect()]
    ivf = [
        (r.vec_id, r.sim)
        for r in ivf_topk(emb, query_id=0, k=10, n_centroids=8, n_probe=8).collect()
    ]
    assert ivf == bf


def test_bpe_token_stats_classes(spark):
    from aardappel_spark.ops.text import bpe_token_stats

    docs = spark.createDataFrame(
        [(1, "Hello, world 42 foo-bar!"), (2, ""), (3, "a b")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in bpe_token_stats(docs).collect()}
    # Hello , world 42 foo - bar !
    assert (out[1].n_bpe_tokens, out[1].n_alpha, out[1].n_num, out[1].n_punct) == (8, 4, 1, 3)
    assert out[2].n_bpe_tokens == 0
    assert (out[3].n_bpe_tokens, out[3].n_alpha) == (2, 2)


def test_rolling_fingerprint_order_sensitive(spark):
    """Same bag of words, different order: bag fingerprint collides,
    rolling fingerprint must not."""
    from aardappel_spark.ops.text import fingerprint, rolling_fingerprint

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma")],
        ["doc_id", "text"],
    )
    bag = {r.doc_id: r.fp for r in fingerprint(docs).collect()}
    roll = {r.doc_id: r.roll_fp for r in rolling_fingerprint(docs).collect()}
    assert bag[1] == bag[2] == bag[3]
    assert roll[1] == roll[3]
    assert roll[1] != roll[2]


def test_char_ngram_jaccard_pairs(spark):
    from aardappel_spark.ops.dedup import char_ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(1, "abcd"), (2, "abcd"), (3, "ab"), (4, "zzzz")],
        ["doc_id", "text"],
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], ["doc_a", "doc_b"]
    )
    out = {(r.doc_a, r.doc_b): r.ngram_jaccard for r in char_ngram_jaccard_pairs(docs, pairs, n=3).collect()}
    # 'abcd' -> {abc, bcd}; identical texts -> 1.0
    assert out[(1, 2)] == 1.0
    # 'ab' shorter than n -> gram set {'ab'}; disjoint from {abc,bcd}
    assert out[(1, 3)] == 0.0
    # 'zzzz' -> {zzz}; disjoint
    assert out[(1, 4)] == 0.0


def test_cosine_neardup_blas_any_block_size(spark):
    """Exactly-once pair emission must hold for every blocking: sweep
    block sizes from degenerate (1 row/block) past corpus size on a
    synthetic corpus with planted duplicates."""
    import math
    import random

    from aardappel_spark.ops.similarity import (
        cosine_neardup_pairs,
        cosine_neardup_pairs_blas,
    )

    rng = random.Random(7)
    base = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(6)]
    rows = []
    for i in range(30):
        v = list(base[i % 6])
        v[0] += rng.uniform(-0.05, 0.05)  # near-dup clusters
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    expected = sorted(tuple(r) for r in cosine_neardup_pairs(emb, 0.9).collect())
    assert expected  # planted clusters must produce pairs
    for block_rows in (1, 4, 13, 64):
        got = [tuple(r) for r in cosine_neardup_pairs_blas(emb, 0.9, block_rows=block_rows).collect()]
        assert len(got) == len(set(got)), f"dup pair at block_rows={block_rows}"
        assert sorted(got) == expected, f"mismatch at block_rows={block_rows}"


def test_doc_quality_flags(spark):
    from aardappel_spark.ops.text import doc_quality

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it is fine"),   # prose: keep
            (2, "!!! ??? ... !!! ??? ..."),                  # punct spam
            (3, "hi"),                                      # too short
            (4, "foo bar baz qux quux corge"),              # no stopwords
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in doc_quality(docs).collect()}
    assert out[1].keep is True
    assert out[2].keep is False and out[2].punct_ratio == 1.0
    assert out[3].keep is False and out[3].n_tokens == 1
    assert out[4].keep is False and out[4].stopword_ratio == 0.0


def test_simhash_wide_low_bits_match_column_chain(spark):
    """simhash_wide is the scale path for >32-bit fingerprints; its low 16
    bits must equal the column-chain impl (identical votes per bit)."""
    from aardappel_spark.ops.dedup import simhash, simhash_wide

    docs = spark.createDataFrame(
        [
            (1, "spark sql query engine with adaptive execution"),
            (2, "spark sql query engine with adaptive optimization"),
            (3, "completely unrelated banana apple orange fruit salad"),
        ],
        ["doc_id", "text"],
    )
    wide = {r.doc_id: r.simhash for r in simhash_wide(docs, bits=60).collect()}
    narrow = {r.doc_id: r.simhash for r in simhash(docs, bits=16).collect()}
    assert all((wide[d] & 0xFFFF) == narrow[d] for d in narrow)
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(wide[1], wide[2]) < ham(wide[1], wide[3])


def test_simhash_candidate_pairs_banding(spark):
    """Banded Hamming join: identical docs pair at distance 0; every
    reported distance equals the true xor popcount of the fingerprints;
    distant docs (no shared band at the threshold) don't pair."""
    from aardappel_spark.ops.dedup import simhash_candidate_pairs, simhash_wide

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "totally different payload about columnar query engines"),
        ],
        ["doc_id", "text"],
    )
    sigs = {r.doc_id: r.simhash for r in simhash_wide(docs, bits=60).collect()}
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_candidate_pairs(docs, max_hamming=3).collect()}
    assert pairs.get((1, 2)) == 0
    for (a, b), ham in pairs.items():
        assert ham == bin(sigs[a] ^ sigs[b]).count("1")
    assert (1, 3) not in pairs and (2, 3) not in pairs


# -- as-of join (ops/asof.py) ------------------------------------------------


def _asof_fixtures(spark):
    left = spark.createDataFrame(
        [(1, 100, "e1"), (1, 200, "e2"), (1, 50, "e0"), (2, 100, "e3"), (3, 100, "e4")],
        "k long, t long, ev string",
    )
    right = spark.createDataFrame(
        [(1, 100, "r@100"), (1, 150, "r@150"), (2, 90, "r@90")],
        "k long, t long, payload string",
    )
    return left, right


def test_asof_join_backward_with_ties_and_nulls(spark):
    from aardappel_spark.ops.asof import asof_join

    left, right = _asof_fixtures(spark)
    out = asof_join(left, right, ["k"], "t", "t", ["payload"])
    got = {r.ev: (r.payload, r.asof_ts) for r in out.collect()}
    assert got == {
        "e0": (None, None),        # nothing at or before t=50
        "e1": ("r@100", 100),      # tie: right row at the same ts matches
        "e2": ("r@150", 150),      # most recent of the two preceding
        "e3": ("r@90", 90),
        "e4": (None, None),        # key with no right rows at all
    }
    assert out.count() == left.count()  # every left row survives


def test_asof_join_tolerance(spark):
    from aardappel_spark.ops.asof import asof_join

    left, right = _asof_fixtures(spark)
    out = asof_join(left, right, ["k"], "t", "t", ["payload"], tolerance=10)
    got = {r.ev: r.payload for r in out.collect()}
    # e2 (t=200) last match is at 150 -> 50 out of tolerance; e3 exactly at 10
    assert got == {"e0": None, "e1": "r@100", "e2": None, "e3": "r@90", "e4": None}


def test_asof_join_single_shuffle_plan(spark):
    from aardappel_spark.ops.asof import asof_join

    left, right = _asof_fixtures(spark)
    plan = (
        asof_join(left, right, ["k"], "t", "t", ["payload"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the scalable shape: one Exchange for the window, no join operator at all
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_neardup_clusters_match_union_find(spark):
    from aardappel_spark.ops.dedup import neardup_clusters
    import random

    rng = random.Random(7)
    n = 60
    edges = sorted({tuple(sorted(rng.sample(range(n), 2))) for _ in range(45)})
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")

    out = neardup_clusters(docs, pairs)
    got = {r.doc_id: r.cluster_id for r in out.collect()}

    # reference: plain union-find
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    comp = {}
    for i in range(n):
        comp.setdefault(find(i), []).append(i)
    for members in comp.values():
        m = min(members)
        for i in members:
            want[i] = m
    assert got == want


# -- banded range join (ops/rangejoin.py) ------------------------------------


def test_range_join_matches_brute_force(spark):
    from aardappel_spark.ops.rangejoin import range_join_within
    import random

    rng = random.Random(11)
    lrows = [(rng.randrange(3), i, rng.randrange(1000)) for i in range(80)]
    rrows = [(rng.randrange(3), 1000 + i, rng.randrange(1000)) for i in range(80)]
    left = spark.createDataFrame(lrows, "k long, lid long, lt long")
    right = spark.createDataFrame(rrows, "k long, rid long, rt long")
    out = range_join_within(left, right, ["k"], "lt", "rt", 50)
    got = {(r.lid, r.rid) for r in out.collect()}
    want = {
        (lid, rid)
        for (lk, lid, lt) in lrows
        for (rk, rid, rt) in rrows
        if lk == rk and abs(lt - rt) <= 50
    }
    assert got == want


def test_range_join_no_nested_loop(spark):
    from aardappel_spark.ops.rangejoin import range_join_within

    left = spark.createDataFrame([(1, 1, 10)], "k long, lid long, lt long")
    right = spark.createDataFrame([(1, 2, 20)], "k long, rid long, rt long")
    plan = (
        range_join_within(left, right, ["k"], "lt", "rt", 50)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_hash_split_deterministic_and_proportional(spark):
    from collections import Counter

    from aardappel_spark.ops.sampling import deterministic_sample, hash_split

    df = spark.range(10000).withColumnRenamed("id", "doc_id")
    s1 = {r.doc_id: r.split for r in hash_split(df).collect()}
    # stable under physical layout changes (the whole point vs rand())
    s2 = {r.doc_id: r.split for r in hash_split(df.repartition(13)).collect()}
    assert s1 == s2
    c = Counter(s1.values())
    assert 0.77 < c["train"] / 10000 < 0.83
    assert 0.07 < c["val"] / 10000 < 0.13
    assert 0.07 < c["test"] / 10000 < 0.13

    n = deterministic_sample(df, 0.1).count()
    assert 800 < n < 1200
    # sample is a subset relation, not a fresh draw
    assert deterministic_sample(df, 0.1).intersect(df).count() == n


def test_salted_agg_matches_direct(spark):
    from aardappel_spark.ops.skew import salted_agg

    df = (
        spark.range(5000)
        .select(
            (F.col("id") % 3).alias("k"),  # 3 hot keys
            (F.col("id") * 7 % 101).cast("double").alias("v"),
        )
    )
    got = salted_agg(
        df, ["k"],
        {"n": ("count", "v"), "s": ("sum", "v"), "lo": ("min", "v"), "hi": ("max", "v")},
        n_salts=8,
    )
    want = df.groupBy("k").agg(
        F.count("v").alias("n"), F.sum("v").alias("s"),
        F.min("v").alias("lo"), F.max("v").alias("hi"),
    )
    g = {r.k: (r.n, r.s, r.lo, r.hi) for r in got.collect()}
    w = {r.k: (r.n, r.s, r.lo, r.hi) for r in want.collect()}
    assert g == w

    # the first aggregate must group on (k, salt), not k alone
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert "pmod(hash(" in plan
    assert plan.count("Aggregate [") == 2


def test_registry_contract():
    """Driver-contract invariants: every oracle belongs to a registered
    query, and EVERY query now has an oracle — the three approximate ANN
    queries were the last rows-only entries, hash-gated in r3 via
    plan-time md5 replication (see _emb_sig_cte / the ann_ivf oracle)."""
    from aardappel_spark.registry import ORACLES, QUERIES

    assert set(ORACLES) <= set(QUERIES)
    assert set(QUERIES) - set(ORACLES) == set()
    # oracle SQL must alias columns the way the driver compares them
    for name, sql in ORACLES.items():
        assert sql.strip(), name


def test_chunk_documents_overlap_and_edges(spark):
    from aardappel_spark.ops.chunking import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),  # 10 tokens
            (2, "x"),                     # shorter than one chunk
            (3, ""),                      # empty -> no chunks
        ],
        ["doc_id", "text"],
    )
    out = chunk_documents(docs, chunk_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.chunk_text, r.n_tokens))
    # stride 3: starts 1,4,7,10 -> chunks abcd, def g? no: d e f g, g h i j, j
    assert by_doc[1] == [
        (0, "a b c d", 4), (1, "d e f g", 4), (2, "g h i j", 4), (3, "j", 1)
    ]
    assert by_doc[2] == [(0, "x", 1)]
    assert 3 not in by_doc

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_pack_chunks_respects_capacity_boundaries(spark):
    from aardappel_spark.ops.chunking import chunk_documents, pack_chunks

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * 20)) for i in range(40)], ["doc_id", "text"]
    )
    ch = chunk_documents(docs, chunk_tokens=8, overlap=0)
    packed = pack_chunks(ch, context_tokens=16, n_buckets=4).collect()
    # within each bucket, bins are contiguous from 0 and no bin starts
    # at an exclusive-cumsum not divisible into capacity
    from collections import defaultdict

    per_bucket = defaultdict(list)
    for r in packed:
        per_bucket[r.bucket].append(r)
    assert set(per_bucket) <= {0, 1, 2, 3}
    for rows in per_bucket.values():
        rows.sort(key=lambda r: (r.doc_id, r.chunk_id))
        cum = 0
        for r in rows:
            assert r.bin == cum // 16
            cum += r.n_tokens


def test_mixture_sample_per_stratum_fracs(spark):
    from aardappel_spark.ops.sampling import mixture_sample

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(4000)],
        "doc_id long, source string",
    )
    out = mixture_sample(df, {"a": 1.0, "b": 0.1}, default_frac=0.0)
    counts = {r.source: r.cnt for r in out.groupBy("source").agg(
        F.count("*").alias("cnt")).collect()}
    assert counts["a"] == 2000          # frac 1.0 keeps everything
    assert 120 < counts["b"] < 280      # ~10% of 2000
    # unknown stratum with default 0.0 keeps nothing
    df2 = df.withColumn("source", F.lit("zzz"))
    assert mixture_sample(df2, {"a": 1.0}, default_frac=0.0).count() == 0


def test_chunk_documents_reconstruction_property(spark):
    """Invariant: dropping each chunk's first `overlap` tokens (except
    chunk 0) and concatenating reconstructs the original token stream —
    for any (chunk_tokens, overlap) combination."""
    import random

    rng = random.Random(3)
    from aardappel_spark.ops.chunking import chunk_documents

    cases = [(4, 0), (4, 1), (7, 3), (16, 4), (5, 4)]
    texts = [
        (i, " ".join(f"t{rng.randrange(50)}" for _ in range(rng.randrange(0, 40))))
        for i in range(12)
    ]
    docs = spark.createDataFrame(texts, ["doc_id", "text"])
    for chunk_tokens, overlap in cases:
        out = chunk_documents(docs, chunk_tokens=chunk_tokens, overlap=overlap).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.chunk_text))
        for doc_id, text in texts:
            want = text.split()
            got = []
            for cid, ctext in sorted(by_doc.get(doc_id, [])):
                toks = ctext.split()
                got.extend(toks if cid == 0 else toks[overlap:])
            assert got == want, (chunk_tokens, overlap, doc_id)


def test_hash_split_rejects_bad_weights(spark):
    import pytest as _pytest

    from aardappel_spark.ops.sampling import hash_split

    df = spark.range(10).withColumnRenamed("id", "doc_id")
    with _pytest.raises(ValueError):
        hash_split(df, weights={"a": 0.8, "b": 0.4})
    with _pytest.raises(ValueError):
        hash_split(df, weights={"a": -0.1, "b": 0.5})


def test_asof_join_random_multikey_with_tolerance(spark):
    """Randomized brute-force equivalence on a COMPOSITE key with a
    tolerance bound — the full contract in one sweep."""
    import random

    from aardappel_spark.ops.asof import asof_join

    rng = random.Random(23)
    lrows = [
        (rng.randrange(2), rng.randrange(2), i, rng.randrange(200))
        for i in range(120)
    ]
    rrows = [
        (rng.randrange(2), rng.randrange(2), 1000 + i, rng.randrange(200))
        for i in range(60)
    ]
    # dedup right per (key, ts): keep max rid (the asof contract)
    best = {}
    for k1, k2, rid, rt in rrows:
        key = (k1, k2, rt)
        if key not in best or rid > best[key]:
            best[key] = rid
    rrows = [(k1, k2, rid, rt) for (k1, k2, rt), rid in best.items()]

    left = spark.createDataFrame(lrows, "k1 long, k2 long, lid long, lt long")
    right = spark.createDataFrame(rrows, "k1 long, k2 long, rid long, rt long")
    out = asof_join(left, right, ["k1", "k2"], "lt", "rt", ["rid"], tolerance=30)
    got = {r.lid: r.rid for r in out.collect()}

    want = {}
    for k1, k2, lid, lt in lrows:
        cands = [
            (rt, rid)
            for (rk1, rk2, rid, rt) in rrows
            if (rk1, rk2) == (k1, k2) and rt <= lt
        ]
        if cands:
            rt, rid = max(cands)
            want[lid] = rid if lt - rt <= 30 else None
        else:
            want[lid] = None
    assert got == want


def test_range_join_gap_parameter_sweep(spark):
    """Brute-force equivalence across gap sizes, including gap=1 (only
    adjacent/equal ts) and a gap wider than the whole time domain."""
    import random

    from aardappel_spark.ops.rangejoin import range_join_within

    rng = random.Random(31)
    lrows = [(rng.randrange(2), i, rng.randrange(100)) for i in range(50)]
    rrows = [(rng.randrange(2), 1000 + i, rng.randrange(100)) for i in range(50)]
    left = spark.createDataFrame(lrows, "k long, lid long, lt long")
    right = spark.createDataFrame(rrows, "k long, rid long, rt long")
    for gap in (1, 7, 33, 1000):
        got = {
            (r.lid, r.rid)
            for r in range_join_within(left, right, ["k"], "lt", "rt", gap).collect()
        }
        want = {
            (lid, rid)
            for (lk, lid, lt) in lrows
            for (rk, rid, rt) in rrows
            if lk == rk and abs(lt - rt) <= gap
        }
        assert got == want, gap


def test_dedup_exact_keeps_lowest_id_rows(spark):
    from aardappel_spark.ops.dedup import dedup_exact

    docs = spark.createDataFrame(
        [(3, "same text"), (1, "same text"), (2, "other"), (5, "same text")],
        ["doc_id", "text"],
    )
    kept = sorted((r.doc_id, r.text) for r in dedup_exact(docs).collect())
    assert kept == [(1, "same text"), (2, "other")]


def test_full_pos_total_order(spark):
    """(step, tx_id, seq) struct ordering: equal positions keep arrival
    order via seq — reference priority_queue.go:11-15 semantics."""
    from aardappel_spark.types import full_pos

    rows = [(2, 1, 0, "c"), (1, 1, 1, "b"), (1, 1, 0, "a"), (1, 0, 2, "z")]
    df = spark.createDataFrame(rows, "step long, tx_id long, seq long, tag string")
    got = [r.tag for r in df.orderBy(full_pos()).collect()]
    assert got == ["z", "a", "b", "c"]


def test_streaming_listener_feeds_registry(spark, tmp_path):
    import json
    import os
    import time

    from aardappel_spark.metrics import MetricsRegistry, make_streaming_listener

    reg = MetricsRegistry()
    listener = make_streaming_listener(reg)
    spark.streams.addListener(listener)
    try:
        src = os.path.join(str(tmp_path), "src")
        os.makedirs(src)
        with open(os.path.join(src, "a.jsonl"), "w") as f:
            for i in range(100):
                f.write(json.dumps({"x": i}) + "\n")
        stream = spark.readStream.schema("x long").json(src)
        q = (
            stream.groupBy().count().writeStream.format("memory")
            .queryName("lst").outputMode("complete")
            .option("checkpointLocation", os.path.join(str(tmp_path), "ck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        # listener events are delivered asynchronously
        for _ in range(50):
            if reg.last_batch_mps > 0:
                break
            time.sleep(0.2)
        assert reg.last_batch_mps > 0
    finally:
        spark.streams.removeListener(listener)


def test_tfidf_topk_ranks_rare_terms_first(spark):
    from aardappel_spark.ops.text import tfidf_topk

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana common"),
            (2, "cherry common banana"),
            (3, "common common date"),
        ],
        ["doc_id", "text"],
    )
    out = {(r.doc_id, r.rank): (r.token, r.tf) for r in tfidf_topk(docs, k=2).collect()}
    # doc 1: apple appears twice and only here -> tf=2, df=1 beats banana (df=2)
    assert out[(1, 1)] == ("apple", 2)
    # doc 3: date (df=1) must outrank common (df=3) despite lower tf
    assert out[(3, 1)] == ("date", 1)
    # ranks within a doc are 1..k and unique (window cut, not a global sort)
    assert all(rank in (1, 2) for (_, rank) in out)


def test_bm25_prefers_matching_short_docs(spark):
    from aardappel_spark.ops.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "table join"),  # both terms, short doc
            (2, "table table table filler filler filler filler filler"),
            (3, "filler filler filler"),  # no terms: absent from output
            (4, "window"),
        ],
        ["doc_id", "text"],
    )
    rows = bm25_topk(docs, k=10).collect()
    ids = [r.doc_id for r in rows]
    assert 3 not in ids
    # doc 1 hits two terms with minimal length normalization: ranked first
    assert ids[0] == 1
    by_id = {r.doc_id: r for r in rows}
    assert by_id[1].n_terms_hit == 2
    assert by_id[2].n_terms_hit == 1
    assert all(rows[i].bm25 >= rows[i + 1].bm25 for i in range(len(rows) - 1))


def test_boilerplate_ratio_flags_shared_spans(spark):
    from aardappel_spark.ops.text import boilerplate_stats

    header = "all rights reserved by example corp"
    docs = spark.createDataFrame(
        [
            (1, header + " unique one body text here"),
            (2, header + " second unique body text differs"),
            (3, header + " third body entirely other words"),
            (4, "totally unrelated document with fresh words only"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in boilerplate_stats(docs, ngram_words=5, min_docs=3).collect()}
    # the 6-word header contributes two shared 5-grams to each carrier
    assert out[1].n_common == 2 and out[2].n_common == 2 and out[3].n_common == 2
    assert out[4].n_common == 0 and out[4].boiler_ratio == 0.0
    assert 0 < out[1].boiler_ratio < 1


def test_bloom_contamination_superset_of_exact(spark):
    from aardappel_spark.ops.dedup import (
        bloom_contamination_check,
        contamination_check,
    )

    docs = spark.createDataFrame(
        [(i, f"token{i} alpha beta gamma delta tail{i}") for i in range(20)]
        + [(100, "alpha beta gamma delta leaked from eval")],
        ["doc_id", "text"],
    )
    bench = docs.filter(F.col("doc_id") < 3)
    corpus = docs.filter(F.col("doc_id") >= 3)
    exact = {r.doc_id for r in contamination_check(corpus, bench, ngram_words=4).collect()}
    bloom = {r.doc_id for r in bloom_contamination_check(corpus, bench, ngram_words=4).collect()}
    # Bloom filters have no false negatives: every exact hit is flagged
    assert exact <= bloom
    assert 100 in bloom


def test_sq8_topk_matches_numpy_model(spark, sf_dir):
    import numpy as np

    from aardappel_spark.ops.similarity import sq8_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = [(r.vec_id, r.qdot) for r in sq8_topk(emb, query_id=0, k=5).collect()]

    rows = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}

    def quant(v):
        s = max(np.abs(v).max(), 1e-30)
        return np.floor(v * 127.0 / s + 0.5).astype(np.int64)

    qq = quant(rows[0])
    scores = sorted(
        ((int(quant(v) @ qq), vid) for vid, v in rows.items() if vid != 0),
        key=lambda t: (-t[0], t[1]),
    )
    want = [(vid, s) for s, vid in scores[:5]]
    assert got == want


def test_stratified_take_exact_allocation(spark):
    from aardappel_spark.ops.sampling import stratified_take

    docs = spark.createDataFrame(
        [(i, "en" if i % 3 else "fr") for i in range(30)], ["doc_id", "lang"]
    )
    out = stratified_take(docs, 5, stratum_col="lang").collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r.pick_order)
    assert sorted(by_lang["en"]) == [1, 2, 3, 4, 5]
    assert sorted(by_lang["fr"]) == [1, 2, 3, 4, 5]
    # deterministic: same picks on a rerun with shuffled partitioning
    again = stratified_take(docs.repartition(7), 5, stratum_col="lang").collect()
    assert {(r.doc_id, r.pick_order) for r in again} == {
        (r.doc_id, r.pick_order) for r in out
    }
    # undersized stratum: returns all rows, never pads
    small = spark.createDataFrame([(1, "xx"), (2, "xx")], ["doc_id", "lang"])
    assert stratified_take(small, 5, stratum_col="lang").count() == 2


def test_weighted_sample_biases_toward_heavy_rows(spark):
    from aardappel_spark.ops.sampling import weighted_sample

    # 20 heavy rows (w=1000) vs 180 light rows (w=1): the A-ES top-20
    # must be dominated by heavy rows
    rows = [(i, 1000 if i < 20 else 1) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    picked = {r.doc_id for r in weighted_sample(df, 20, weight_col="w").collect()}
    assert len(picked) == 20
    assert len([i for i in picked if i < 20]) >= 15
    # deterministic under repartitioning
    again = {
        r.doc_id
        for r in weighted_sample(df.repartition(13), 20, weight_col="w").collect()
    }
    assert picked == again


def test_postings_top_doc_and_totals(spark):
    from aardappel_spark.ops.text import postings

    docs = spark.createDataFrame(
        [
            (1, "alpha alpha alpha beta"),
            (2, "alpha beta beta"),
            (3, "beta gamma"),
        ],
        ["doc_id", "text"],
    )
    out = {r.token: r for r in postings(docs, top_tokens=10).collect()}
    assert out["beta"].df == 3 and out["beta"].total_tf == 4
    assert out["beta"].top_doc_id == 2 and out["beta"].top_tf == 2
    assert out["alpha"].df == 2 and out["alpha"].top_doc_id == 1
    # tf tie in gamma: single doc
    assert out["gamma"].df == 1 and out["gamma"].top_doc_id == 3


def test_hll_daily_merges_to_global(spark, sf_dir):
    """Sketch mergeability: elementwise max of the per-day registers
    must equal the global register table — the property that lets daily
    sketches answer any date range without re-reading events."""
    from aardappel_spark.registry import q_events_user_hll, q_events_user_hll_daily

    daily = q_events_user_hll_daily(spark, sf_dir)
    merged = {
        (r.register, r.mr)
        for r in daily.groupBy("register")
        .agg(F.max("max_rho").alias("mr"))
        .collect()
    }
    global_ = {
        (r.register, r.max_rho) for r in q_events_user_hll(spark, sf_dir).collect()
    }
    assert merged == global_


def test_znorm_matches_numpy(spark, sf_dir):
    import numpy as np

    from aardappel_spark.registry import q_events_znorm

    got = {r.event_id: r.z for r in q_events_znorm(spark, sf_dir).collect()}
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    by_type = {}
    for r in ev:
        by_type.setdefault(r.event_type, []).append((r.event_id, r.value))
    for rows in by_type.values():
        vals = np.array([v for _, v in rows])
        mean, var = vals.mean(), vals.var(ddof=1)
        for eid, v in rows:
            assert abs(got[eid] - (v - mean) / np.sqrt(var)) < 1e-3


def test_pq_topk_matches_numpy_model(spark, sf_dir):
    """Full PQ pipeline (seed -> one Lloyd iteration -> encode -> ADC)
    against a straight numpy replication on the collected corpus."""
    import hashlib

    import numpy as np

    from aardappel_spark.ops.similarity import pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = [(r.vec_id, r.adc) for r in pq_topk(emb, query_id=0, k=5).collect()]

    rows = sorted(
        ((r.vec_id, np.array(r.embedding, dtype=np.float64)) for r in emb.collect()),
        key=lambda t: (hashlib.md5(str(t[0]).encode()).hexdigest(), t[0]),
    )
    m_sub, k_sub = 8, 8
    S = np.array([v for _, v in rows[:k_sub]])
    d_sub = S.shape[1] // m_sub
    C = S.reshape(k_sub, m_sub, d_sub).transpose(1, 0, 2).copy()
    allv = {i: v for i, v in rows}
    V = np.array([allv[i] for i in sorted(allv)])
    vids = np.array(sorted(allv))
    Vs = V.reshape(len(V), m_sub, d_sub)
    newC = C.copy()
    for m in range(m_sub):
        D = ((Vs[:, m, None, :] - C[m][None]) ** 2).sum(axis=2)
        a = D.argmin(axis=1)
        for c in range(k_sub):
            sel = Vs[a == c, m, :]
            if len(sel):
                newC[m, c] = sel.sum(axis=0) / len(sel)
    C = newC
    codes = np.stack(
        [
            ((Vs[:, m, None, :] - C[m][None]) ** 2).sum(axis=2).argmin(axis=1)
            for m in range(m_sub)
        ],
        axis=1,
    )
    q = allv[0].reshape(m_sub, d_sub)
    lut = ((q[:, None, :] - C) ** 2).sum(axis=2)
    adc = lut[np.arange(m_sub)[None, :], codes].sum(axis=1)
    scored = sorted(
        (round(float(s), 6), int(i)) for i, s in zip(vids, adc) if i != 0
    )
    want = [(i, s) for s, i in scored[:5]]
    assert got == want


def test_temperature_rebalance_direction(spark, sf_dir):
    """alpha = 0.5 rebalancing: the smallest language keeps (nearly)
    everything, the largest keeps ~sqrt(n_min*n_max)/n_max, and the kept
    distribution is flatter than the original."""
    from aardappel_spark.registry import q_corpus_temperature

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    orig = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept = {r.lang: r.n_kept for r in q_corpus_temperature(spark, sf_dir).collect()}
    n_min = min(orig.values())
    lang_min = min(orig, key=orig.get)
    lang_max = max(orig, key=orig.get)
    # smallest language: cut = 2^32 -> keeps everything
    assert kept[lang_min] == orig[lang_min]
    # keep RATios flatten: largest language's ratio < smallest's
    assert kept[lang_max] / orig[lang_max] < kept[lang_min] / orig[lang_min]
    # expected keep ~ n * sqrt(n_min/n): within 30% (Bernoulli noise)
    import math

    for lang, n in orig.items():
        expect = n * math.sqrt(n_min / n)
        assert abs(kept[lang] - expect) <= max(8.0, 0.3 * expect), lang


def test_ppl_buckets_are_terciles(spark, sf_dir):
    from aardappel_spark.registry import q_doc_ppl_buckets

    rows = {r.bucket: r for r in q_doc_ppl_buckets(spark, sf_dir).collect()}
    assert set(rows) == {"head", "middle", "tail"}
    sizes = [rows[b].n_docs for b in ("head", "middle", "tail")]
    assert max(sizes) - min(sizes) <= 1  # ntile balance
    # head = lowest NLL (most in-distribution)
    assert rows["head"].avg_nll <= rows["middle"].avg_nll <= rows["tail"].avg_nll


def test_bench_compact_line_fits_tail_window():
    """r3 regression: the harness captures only the last 2000 chars of
    bench stdout; the emitted line must always fit and stay valid JSON."""
    import json as _json

    import bench

    # 160 long-named queries (worse than the real registry) at varied cost
    timings = {f"very_long_query_family_name_{i:03d}": 0.1 + (i % 37) / 7.0 for i in range(160)}
    warmup = {"cdc_parse": 5.6, "minhash_signatures": 3.4, "simhash64": 9.9}
    total = sum(timings.values()) + sum(warmup.values())
    line = bench.compact_line(total, timings, warmup, 0.1)
    assert len(line) <= bench.LINE_BUDGET
    parsed = _json.loads(line)
    assert parsed["metric"] == "total_query_seconds"
    assert parsed["unit"] == "sec"
    assert abs(parsed["value"] - total) < 0.02
    # nothing lost: kept entries + folded tail cover every query
    assert len(parsed["queries"]) + parsed.get("other_n", 0) == 160
    covered = sum(parsed["queries"].values()) + parsed.get("other_sec", 0.0)
    assert abs(covered - sum(timings.values())) < 1.5  # rounding slack
    # kept entries are the most expensive ones
    if parsed.get("other_n"):
        kept_min = min(parsed["queries"].values())
        folded_max = max(v for k, v in timings.items() if k not in parsed["queries"])
        assert kept_min >= round(folded_max, 2) - 0.01

    # small registries emit everything inline
    small = {f"q{i}": 1.0 for i in range(10)}
    parsed_small = _json.loads(bench.compact_line(12.0, small, {}, 0.1))
    assert len(parsed_small["queries"]) == 10 and "other_n" not in parsed_small


def test_gate_order_leads_with_regates_then_stalest():
    """Each round's correctness gate checks the first 50 queries() entries.
    The order is derived from the committed CORRECTNESS artifacts: the
    explicit re-gates (plan/output changed since their last gate row)
    lead in order, then the stalest rows by latest gate round, so every
    query at the oldest round is inside the next gate."""
    import __spark_entry__ as entry_mod
    from aardappel_spark.registry import ORACLES, _REGATE, latest_gate_rounds

    q = list(entry_mod.queries())
    first = q[:50]
    assert first[: len(_REGATE)] == _REGATE
    latest = latest_gate_rounds()
    assert set(latest) == set(q)  # every query has a gate row today
    rest = first[len(_REGATE):]
    others = [k for k in q if k not in _REGATE]
    # the rest of the first 50 are the stalest rows, oldest first
    assert [latest[k] for k in rest] == sorted(latest[k] for k in others)[: len(rest)]
    assert max(latest[k] for k in rest) <= min(latest[k] for k in q[50:])
    oldest = min(latest[k] for k in others)
    assert {k for k in others if latest[k] == oldest} <= set(first)
    assert list(entry_mod.oracle_sql()) == q
    assert set(ORACLES) == set(q)


def test_gate_order_ties_and_fallback():
    """Ties keep registry order, a never-gated query counts as oldest,
    and with no artifacts the order is plain registry order."""
    from aardappel_spark.registry import gate_order

    names = ["a", "b", "c", "d", "e"]
    latest = {"a": 9, "b": 8, "c": 9, "e": 8}
    assert gate_order(names, latest, regate=["c"]) == ["c", "d", "b", "e", "a"]
    assert gate_order(names, {}, regate=["c"]) == names


def test_dedup_span_matches_python_model(spark, tmp_path):
    """q_dedup_span vs a direct Python model on a corpus with planted
    shared runs: same spans, same boundaries, same merging of adjacent
    duplicated windows (randomized by hypothesis-style seed sweep)."""
    import random

    from aardappel_spark.registry import q_dedup_span

    for seed in (7, 23):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(30)]
        shared = [f"s{i}" for i in range(12)]  # a 12-token run planted in 2 docs
        docs = []
        for d in range(8):
            toks = [rng.choice(vocab) for _ in range(rng.randint(2, 40))]
            if d in (2, 5):  # plant the shared run mid-document
                at = min(len(toks), 3)
                toks = toks[:at] + shared + toks[at:]
            docs.append((d, " ".join(toks)))

        # python model: 4-gram per position (whole text when < 4 tokens),
        # cross-doc duplicated grams, islands of consecutive dup positions
        grams = {}
        for d, text in docs:
            t = [x for x in text.split(" ") if x]
            if len(t) < 4:
                g = [(0, " ".join(t))]
            else:
                g = [(i, " ".join(t[i : i + 4])) for i in range(len(t) - 3)]
            grams[d] = g
        df = {}
        for d, g in grams.items():
            for _, gram in set(g):
                df.setdefault(gram, set()).add(d)
        expected = set()
        for d, g in grams.items():
            dup_pos = sorted(p for p, gram in g if len(df[gram]) >= 2)
            run = []
            for p in dup_pos + [None]:
                if run and (p is None or p != run[-1] + 1):
                    if len(run) + 3 >= 5:
                        expected.add((d, run[0], len(run) + 3))
                    run = []
                if p is not None:
                    run.append(p)

        sf_dir = str(tmp_path / f"sf_{seed}")
        spark.createDataFrame(
            [(d, t, "en", "src0", len(t)) for d, t in docs],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

        got = {
            (r.doc_id, r.span_start, r.span_tokens)
            for r in q_dedup_span(spark, sf_dir).collect()
        }
        assert got == expected, f"seed {seed}"
        # the planted 12-token run must surface in both docs
        assert any(d == 2 and n >= 12 for d, _, n in got)
        assert any(d == 5 and n >= 12 for d, _, n in got)


def test_dsir_and_vocab_growth_match_python_models(spark, tmp_path):
    """corpus_dsir and doc_vocab_growth vs direct Python models on a
    randomized corpus (hashing, smoothing, and first-occurrence
    attribution all re-derived independently)."""
    import hashlib
    import math
    import random

    from aardappel_spark.registry import q_corpus_dsir, q_doc_vocab_growth

    rng = random.Random(11)
    vocab = [f"tok{i}" for i in range(40)]
    docs = []
    for d in range(12):
        toks = [rng.choice(vocab) for _ in range(rng.randint(1, 25))]
        docs.append((d, " ".join(toks), "en" if d % 3 else "de"))

    sf_dir = str(tmp_path / "sf")
    spark.createDataFrame(
        [(d, t, lang, "s0", len(t)) for d, t, lang in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % 64

    toks_all, toks_en = [], []
    per_doc = {}
    for d, t, lang in docs:
        bs = [bucket(x) for x in t.split(" ") if x]
        per_doc[d] = bs
        toks_all.extend(bs)
        if lang == "en":
            toks_en.extend(bs)
    c_raw, c_tgt = {}, {}
    for b in toks_all:
        c_raw[b] = c_raw.get(b, 0) + 1
    for b in toks_en:
        c_tgt[b] = c_tgt.get(b, 0) + 1
    n_raw, n_tgt = len(toks_all), len(toks_en)

    def logratio(b):
        return math.log((c_tgt.get(b, 0) + 1) / (n_tgt + 64)) - math.log(
            (c_raw[b] + 1) / (n_raw + 64)
        )

    expect_dsir = {
        d: round(sum(logratio(b) for b in bs) / len(bs), 6) + 0.0
        for d, bs in per_doc.items()
        if bs
    }
    got_dsir = {
        r.doc_id: r.dsir_weight for r in q_corpus_dsir(spark, sf_dir).collect()
    }
    assert got_dsir.keys() == expect_dsir.keys()
    for d in expect_dsir:
        assert abs(got_dsir[d] - expect_dsir[d]) <= 1e-6, d

    first = {}
    for d, t, _ in docs:
        for x in t.split(" "):
            if x and x not in first:
                first[x] = d
    new_per_doc = {d: 0 for d, _, _ in docs}
    for _, d in first.items():
        new_per_doc[d] += 1
    running, expect_growth = 0, {}
    for d in sorted(new_per_doc):
        running += new_per_doc[d]
        expect_growth[d] = (new_per_doc[d], running)
    got_growth = {
        r.doc_id: (r.n_new_tokens, r.vocab_size)
        for r in q_doc_vocab_growth(spark, sf_dir).collect()
    }
    assert got_growth == expect_growth


def test_lsh_banded_topk_recall_and_candidates(spark, sf_dir):
    """Banded LSH (12x4): exact-cosine re-rank values, recall@10 beats
    both the single-bucket LSH tier and 0.8 (the round-4 target), and
    the candidate set genuinely prunes — sub-brute-force by construction,
    proven by count, with a band-match witness for every candidate."""
    from aardappel_spark.ops.similarity import (
        banded_signature,
        brute_force_topk,
        lsh_banded_candidates,
        lsh_banded_topk,
        lsh_bucket_topk,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    k = 10
    truth = {r.vec_id for r in brute_force_topk(emb, query_id=0, k=k).collect()}
    exact = {
        r.vec_id: r.sim
        for r in brute_force_topk(emb, query_id=0, k=10**6).collect()
    }

    banded = lsh_banded_topk(emb, query_id=0, k=k, n_bands=12, band_bits=4).collect()
    for r in banded:
        assert abs(exact[r.vec_id] - r.sim) < 1e-9  # exact re-rank

    bucket = lsh_bucket_topk(emb, query_id=0, k=k, bits=6).collect()
    recall_banded = len(truth & {r.vec_id for r in banded}) / k
    recall_bucket = len(truth & {r.vec_id for r in bucket}) / k
    assert recall_banded >= 0.8
    assert recall_banded >= recall_bucket

    cand = lsh_banded_candidates(emb, query_id=0, n_bands=12, band_bits=4)
    n_cand = cand.count()
    assert 0 < n_cand < n - 1  # pruned: not brute force in disguise

    # every candidate shares at least one band with the query
    sig = emb.select(
        "vec_id",
        banded_signature(F.col("embedding"), 64, 12, 4).alias("b"),
    )
    qbands = sig.filter(F.col("vec_id") == 0).collect()[0].b
    got = {r.vec_id: r.b for r in sig.join(cand, "vec_id").collect()}
    for vid, bands in got.items():
        assert any(x == y for x, y in zip(bands, qbands)), vid


def test_banded_signature_frame_matches_expression(spark, sf_dir):
    """The vectorized mapInPandas signature build (hot path) must agree
    bit-for-bit with the declarative higher-order-function expression
    (the form the DuckDB oracle replicates) on every vector."""
    from pyspark.sql import functions as F

    from aardappel_spark.ops.similarity import (
        banded_signature,
        banded_signature_frame,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    expr = {
        r.vec_id: list(r.b)
        for r in emb.select(
            "vec_id", banded_signature(F.col("embedding"), 64, 12, 4).alias("b")
        ).collect()
    }
    fast = {
        r.vec_id: list(r._bands)
        for r in banded_signature_frame(emb, 12, 4).collect()
    }
    assert expr == fast


def test_semantic_dedup_matches_numpy_model(spark, sf_dir):
    """Independent verification of the SemDeDup dup rule: given the
    cluster assignment the query itself emits, every dup link must
    equal a brute-force numpy within-cluster cosine check (dup_of =
    smallest lower-id partner with cosine >= 0.4, kept = none)."""
    import numpy as np

    from aardappel_spark.registry import QUERIES

    rows = QUERIES["semantic_dedup"](spark, sf_dir).collect()
    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    by_cluster: dict[int, list[int]] = {}
    for r in rows:
        by_cluster.setdefault(r.cid, []).append(r.vec_id)
    assert len(rows) == len(emb)
    for r in rows:
        hits = []
        for j in by_cluster[r.cid]:
            if j >= r.vec_id:
                continue
            a, b = emb[r.vec_id], emb[j]
            s = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
            if s >= 0.4:
                hits.append(j)
        if hits:
            assert r.dup_of == min(hits) and not r.kept, r
        else:
            assert r.dup_of is None and r.kept, r


def test_psi_drift_matches_python_model(spark, sf_dir):
    """events_psi_drift equals a from-scratch Python fold over the
    collected events: same midpoint split, same width-25 bins, same
    +0.5 Laplace smoothing."""
    import math

    from aardappel_spark.registry import QUERIES
    from aardappel_spark.sources import load_events_ns

    [row] = QUERIES["events_psi_drift"](spark, sf_dir).collect()
    ev = load_events_ns(spark, sf_dir).select("ts", "value").collect()
    mics = [r.ts // 1000 for r in ev]
    mid = min(mics) + (max(mics) - min(mics)) // 2
    base: dict[int, int] = {}
    cur: dict[int, int] = {}
    for r in ev:
        side = base if r.ts // 1000 <= mid else cur
        b = math.floor(r.value / 25)
        side[b] = side.get(b, 0) + 1
    dom = sorted(set(base) | set(cur))
    tb, tc, k = sum(base.values()), sum(cur.values()), len(dom)
    psi = 0.0
    for b in dom:
        pb = (base.get(b, 0) + 0.5) / (tb + 0.5 * k)
        pc = (cur.get(b, 0) + 0.5) / (tc + 0.5 * k)
        psi += (pc - pb) * (math.log(pc) - math.log(pb))
    assert row.n_base == tb and row.n_cur == tc and row.n_bins == k
    assert abs(row.psi - psi) <= 1e-6


def test_cusum_window_rewrite_equals_classic_recursion(spark, tmp_path):
    """events_cusum's window rewrite S - min(0, running-min S) must equal
    the textbook recursion s_i = max(0, s_{i-1} + (x_i - 55)), alarm
    s_i > 100, on every row of random per-user sequences, including
    spikes and users that never exceed the reference. The DuckDB oracle
    uses the same rewrite, so only this check can catch a wrong one."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from aardappel_spark.registry import QUERIES

    ref, h = 55.0, 100.0  # q_events_cusum's reference level and alarm
    rng = random.Random(42)
    rows = []
    eid = 0
    for uid in range(8):
        for i in range(rng.randint(1, 40)):
            eid += 1
            base = rng.uniform(0.0, 120.0)
            if rng.random() < 0.1:
                base += rng.uniform(100.0, 300.0)  # spike
            rows.append((uid, eid, i * 10 + rng.randint(0, 5), round(base, 2)))
    for i in range(20):  # a user entirely below the reference
        eid += 1
        rows.append((8, eid, i * 10, round(rng.uniform(0.0, ref - 1.0), 2)))

    t0_ns = 1_700_000_000_000_000_000
    uid_c, eid_c, mic_c, val_c = zip(*rows)
    pq.write_table(
        pa.table({
            "user_id": pa.array(uid_c, pa.int64()),
            "event_id": pa.array(eid_c, pa.int64()),
            "ts": pa.array([t0_ns + m * 1000 for m in mic_c], pa.int64()),
            "value": pa.array(val_c, pa.float64()),
        }),
        str(tmp_path / "events.parquet"),
    )
    got = {
        r.event_id: (r.user_id, r.cusum, r.alarm)
        for r in QUERIES["events_cusum"](spark, str(tmp_path)).collect()
    }

    per_user: dict[int, list] = {}
    for uid, eid_, mic, v in rows:
        per_user.setdefault(uid, []).append((mic, eid_, v))
    want = {}
    for uid, evs in per_user.items():
        s = 0.0
        for _, eid_, v in sorted(evs):
            s = max(0.0, s + (v - ref))
            want[eid_] = (uid, round(s, 6), round(s, 6) > h)
    assert got.keys() == want.keys()
    for e, (uid, s, alarm) in want.items():
        g_uid, g_s, g_alarm = got[e]
        assert g_uid == uid and abs(g_s - s) <= 1e-6 and g_alarm == alarm, e
    assert any(a for _, _, a in want.values())  # some user alarms
    assert all(s == 0.0 for u, s, _ in want.values() if u == 8)


def test_threshold_curve_is_monotone_and_consistent(spark, sf_dir):
    """Pair mass and affected-doc mass must be non-increasing in the
    threshold, and every affected-doc count is bounded by 2x pairs."""
    from aardappel_spark.registry import QUERIES

    rows = sorted(
        QUERIES["dedup_threshold_curve"](spark, sf_dir).collect(),
        key=lambda r: r.threshold,
    )
    assert [r.threshold for r in rows] == [0.5, 0.6, 0.7, 0.8, 0.9]
    for a, b in zip(rows, rows[1:]):
        assert a.n_pairs >= b.n_pairs
        assert a.n_docs_affected >= b.n_docs_affected
    for r in rows:
        assert r.n_docs_affected <= 2 * r.n_pairs


def test_survivor_quality_picks_longest_member(spark, sf_dir):
    """Each cluster's survivor must hold the cluster's max token count
    (ties resolved to the smallest doc_id) and the member counts must
    sum to the corpus size."""
    from aardappel_spark.ops.dedup import neardup_clusters
    from aardappel_spark.ops.text import tokens_col
    from aardappel_spark.registry import (
        QUERIES,
        _docs,
        _minhash_pairs_cached,
    )

    out = {r.cluster_id: r for r in QUERIES["dedup_survivor_quality"](spark, sf_dir).collect()}
    docs = _docs(spark, sf_dir)
    toks = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", F.size(tokens_col("text")).alias("n")
        ).collect()
    }
    clusters = neardup_clusters(docs, _minhash_pairs_cached(spark, sf_dir)).collect()
    members: dict[int, list[int]] = {}
    for r in clusters:
        members.setdefault(r.cluster_id, []).append(r.doc_id)
    assert set(out) == set(members)
    assert sum(r.n_members for r in out.values()) == len(toks)
    for cid, mem in members.items():
        best = min(mem, key=lambda d: (-toks[d], d))
        assert out[cid].survivor_id == best
        assert out[cid].survivor_tokens == toks[best]
        assert out[cid].n_members == len(mem)


def test_corpus_funnel_is_monotone(spark, sf_dir):
    """Each funnel stage can only shrink the corpus, and the stage
    order/percentages must be internally consistent."""
    from aardappel_spark.registry import QUERIES

    rows = {r.stage: r for r in QUERIES["corpus_funnel"](spark, sf_dir).collect()}
    order = ["total", "exact_dedup", "near_dedup", "quality", "decontaminated"]
    assert set(rows) == set(order)
    counts = [rows[s].n_docs for s in order]
    assert counts == sorted(counts, reverse=True)
    assert rows["total"].pct == 1.0
    for s in order:
        assert abs(rows[s].pct - rows[s].n_docs / rows["total"].n_docs) < 1e-6


def test_query_index_covers_every_query():
    """Every registry query must carry a docstring or a SUMMARIES entry
    so tools/gen_query_index.py renders a complete QUERIES.md."""
    import importlib

    gen = importlib.import_module("tools.gen_query_index")
    from aardappel_spark import registry as reg

    missing = [
        n
        for n, fn in reg.QUERIES.items()
        if not fn.__doc__ and n not in gen.SUMMARIES
    ]
    assert missing == []


def test_seasonality_matches_python_chi2(spark, sf_dir):
    """events_seasonality equals a from-scratch chi-square over the
    collected events, including the closed-form zero-hour term."""
    from aardappel_spark.registry import QUERIES
    from aardappel_spark.sources import load_events_ns

    got = {r.event_type: r for r in QUERIES["events_seasonality"](spark, sf_dir).collect()}
    ev = load_events_ns(spark, sf_dir).select("event_type", "ts").collect()
    counts: dict[str, dict[int, int]] = {}
    for r in ev:
        h = ((r.ts // 1000) // 3600000000) % 24
        counts.setdefault(r.event_type, {}).setdefault(h, 0)
        counts[r.event_type][h] += 1
    assert set(got) == set(counts)
    for et, hours in counts.items():
        n = sum(hours.values())
        e = n / 24.0
        chi2 = sum((o - e) ** 2 / e for o in hours.values()) + (24 - len(hours)) * e
        assert got[et].n_events == n
        assert got[et].n_hours_observed == len(hours)
        assert abs(got[et].chi2 - chi2) < 1e-3


def test_jackknife_matches_numpy_model(spark, sf_dir):
    """corpus_jackknife_ci equals the numpy delete-one-group jackknife
    over the same md5 buckets."""
    import hashlib

    import numpy as np

    from aardappel_spark.registry import QUERIES, _docs

    [row] = QUERIES["corpus_jackknife_ci"](spark, sf_dir).collect()
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars").collect()
    buckets: dict[int, list[float]] = {}
    for r in docs:
        b = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:4], 16) % 32
        buckets.setdefault(b, []).append(float(r.n_chars))
    T = sum(sum(v) for v in buckets.values())
    N = sum(len(v) for v in buckets.values())
    B = len(buckets)
    thetas = np.array(
        [(T - sum(v)) / (N - len(v)) for v in buckets.values()]
    )
    se = float(np.sqrt((B - 1) / B * ((thetas**2).sum() - thetas.sum() ** 2 / B)))
    assert row.n_docs == N and row.n_buckets == B
    assert abs(row.mean_nchars - T / N) < 1e-4
    assert abs(row.jackknife_se - se) < 1e-4
    assert abs(row.ci_lo - (row.mean_nchars - 1.96 * se)) < 1e-3


def test_knn_graph_matches_numpy_over_candidates(spark, sf_dir):
    """Every listed neighbor must be the cosine top-5 (rounded, ties to
    smaller id) among the vector's banded-LSH candidates, re-derived in
    numpy from the same shared signature frame."""
    import numpy as np

    from aardappel_spark.registry import QUERIES, _banded_sig_cached

    rows = QUERIES["emb_knn_graph"](spark, sf_dir).collect()
    sig = {r.vec_id: list(r._bands) for r in _banded_sig_cached(spark, sf_dir).collect()}
    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    # candidate sets from band collisions
    from collections import defaultdict

    bucket_members = defaultdict(set)
    for vid, bands in sig.items():
        for i, bv in enumerate(bands):
            bucket_members[(i, bv)].add(vid)
    cands = defaultdict(set)
    for members in bucket_members.values():
        for a in members:
            cands[a] |= members - {a}
    got = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r.vec_id, r.rank)):
        got[r.vec_id].append((r.neighbor, r.sim))
    assert set(got) == {v for v, c in cands.items() if c}
    for vid, listed in got.items():
        scored = sorted(
            (
                (
                    -round(
                        float(
                            emb[vid]
                            @ emb[j]
                            / (np.linalg.norm(emb[vid]) * np.linalg.norm(emb[j]))
                        ),
                        4,
                    ),
                    j,
                )
                for j in cands[vid]
            ),
        )[:5]
        expect = [(j, -s) for s, j in scored]
        assert listed == expect, (vid, listed, expect)


# ---------------------------------------------------------------------------
# round-5 batch 4: ANN dial completion + analytics
# ---------------------------------------------------------------------------


def test_probe_curve_nested_and_complete(spark, sf_dir):
    """ann_probe_curve: candidate sets are nested (monotone counts),
    recall is monotone non-decreasing, and the full-probe row (P=16)
    reads recall 1.0 over corpus-1 candidates — the self-check that
    the sweep agrees with the exact tier."""
    from aardappel_spark.registry import QUERIES

    rows = sorted(
        QUERIES["ann_probe_curve"](spark, sf_dir).collect(),
        key=lambda r: r.n_probe,
    )
    assert [r.n_probe for r in rows] == [1, 2, 4, 8, 16]
    n_vec = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    for a, b in zip(rows, rows[1:]):
        assert a.n_candidates <= b.n_candidates
        assert a.recall <= b.recall + 1e-9
    full = rows[-1]
    assert full.n_candidates == n_vec - 1
    assert full.n_hit == 10 and abs(full.recall - 1.0) < 1e-9
    for r in rows:
        assert 0 <= r.n_hit <= 10
        assert abs(r.recall - r.n_hit / 10.0) < 1e-9


def test_ann_recall_sq8_pq_shape(spark, sf_dir):
    """The sq8/pq recall dials report k=10 and a consistent
    n_hit/recall pair (the values themselves are hash-gated by the
    oracle sweep — this pins the eval's own arithmetic)."""
    from aardappel_spark.registry import QUERIES

    for q in ("ann_recall_sq8", "ann_recall_pq"):
        (r,) = QUERIES[q](spark, sf_dir).collect()
        assert r.k == 10
        assert 0 <= r.n_hit <= 10
        assert abs(r.recall - r.n_hit / 10.0) < 1e-9


def test_markov_matches_python_model(spark, sf_dir):
    """events_markov equals a from-scratch transition count over the
    collected events, and each source row's probabilities sum to 1."""
    from collections import defaultdict

    from aardappel_spark.registry import QUERIES
    from aardappel_spark.sources import load_events_ns

    got = {
        (r.src_type, r.dst_type): r
        for r in QUERIES["events_markov"](spark, sf_dir).collect()
    }
    ev = load_events_ns(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id"
    ).collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append(((r.ts // 1000), r.event_id, r.event_type))
    want = defaultdict(int)
    for seq in by_user.values():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            want[(a, b)] += 1
    assert {k: r.n for k, r in got.items()} == dict(want)
    rowsum = defaultdict(float)
    for (src, _), r in got.items():
        rowsum[src] += r.p
    for src, s in rowsum.items():
        assert abs(s - 1.0) < 1e-4, (src, s)


def test_basket_pairs_matches_python_model(spark, sf_dir):
    """basket_pairs support/confidence/lift equal a from-scratch
    Python recomputation over the distinct (order, brand) sets."""
    from collections import defaultdict

    from aardappel_spark.registry import QUERIES

    got = {
        (r.brand_a, r.brand_b): r
        for r in QUERIES["basket_pairs"](spark, sf_dir).collect()
    }
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    pt = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_brand"
    )
    rows = li.join(pt, li.l_partkey == pt.p_partkey).select(
        "l_orderkey", "p_brand"
    ).collect()
    per_order = defaultdict(set)
    for r in rows:
        per_order[r.l_orderkey].add(r.p_brand)
    n_orders = len(per_order)
    marg = defaultdict(int)
    pair_n = defaultdict(int)
    for brands in per_order.values():
        bs = sorted(brands)
        for b in bs:
            marg[b] += 1
        for i, a in enumerate(bs):
            for b in bs[i + 1:]:
                pair_n[(a, b)] += 1
    assert {k: r.n_ab for k, r in got.items()} == dict(pair_n)
    for (a, b), r in got.items():
        assert abs(r.support - round(pair_n[(a, b)] / n_orders, 6)) < 1e-9
        assert abs(r.confidence - round(pair_n[(a, b)] / marg[a], 6)) < 1e-9
        lift = pair_n[(a, b)] * n_orders / (marg[a] * marg[b])
        assert abs(r.lift - round(lift, 6)) < 1e-6


def test_token_entropy_matches_python_model(spark, sf_dir):
    """doc_token_entropy equals the Counter-based Shannon entropy per
    document, empty docs included, and respects 0 <= H <= ln(types)."""
    import math
    from collections import Counter

    from aardappel_spark.registry import QUERIES, _docs

    got = {r.doc_id: r for r in QUERIES["doc_token_entropy"](spark, sf_dir).collect()}
    docs = _docs(spark, sf_dir).select("doc_id", "text").collect()
    assert set(got) == {d.doc_id for d in docs}
    for d in docs:
        toks = [t for t in d.text.split(" ") if t != ""]
        r = got[d.doc_id]
        assert r.n_tokens == len(toks)
        if not toks:
            assert r.n_types == 0 and r.entropy == 0.0 and r.ttr is None
            continue
        c = Counter(toks)
        n = len(toks)
        h = math.log(n) - sum(v * math.log(v) for v in c.values()) / n
        assert r.n_types == len(c)
        assert abs(r.entropy - h) < 1e-4
        assert -1e-9 <= r.entropy <= math.log(max(len(c), 1)) + 1e-6
        assert abs(r.ttr - round(len(c) / n, 6)) < 1e-9


def test_js_drift_matches_python_model(spark, sf_dir):
    """corpus_js_drift equals the numpy JS divergence over the same
    hashed-bucket distributions and stays within [0, ln 2]."""
    import hashlib
    import math
    from collections import defaultdict

    from aardappel_spark.registry import QUERIES, _docs

    got = {
        (r.source_a, r.source_b): r.js_divergence
        for r in QUERIES["corpus_js_drift"](spark, sf_dir).collect()
    }
    docs = _docs(spark, sf_dir).select("source", "text").collect()
    counts = defaultdict(lambda: [0] * 64)
    for d in docs:
        for t in d.text.split(" "):
            if t == "":
                continue
            b = int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % 64
            counts[d.source][b] += 1
    sources = sorted(counts)
    assert set(got) == {
        (a, b) for i, a in enumerate(sources) for b in sources[i + 1:]
    }
    for (sa, sb), js in got.items():
        na, nb = sum(counts[sa]), sum(counts[sb])
        pa = [(c + 0.5) / (na + 32.0) for c in counts[sa]]
        pb = [(c + 0.5) / (nb + 32.0) for c in counts[sb]]
        want = sum(
            0.5 * x * math.log(x / ((x + y) / 2))
            + 0.5 * y * math.log(y / ((x + y) / 2))
            for x, y in zip(pa, pb)
        )
        assert abs(js - want) < 1e-4
        assert -1e-9 <= js <= math.log(2) + 1e-9


def test_multimodal_frames_match_hashlib(spark, sf_dir):
    """multimodal_frames' stub digests and fan-out cardinality equal a
    hashlib recomputation from the payload bytes — pins the mapInPandas
    explode shape and the SQL-replicable ':N' counter convention."""
    import hashlib
    from collections import defaultdict

    from aardappel_spark.registry import QUERIES, _docs

    rows = QUERIES["multimodal_frames"](spark, sf_dir).collect()
    docs = {
        d.doc_id: d.text
        for d in _docs(spark, sf_dir).collect()
        if d.doc_id % 3 == 2
    }
    got = defaultdict(dict)
    for r in rows:
        got[r.media_id][r.frame_no] = r.frame_hex
    assert set(got) <= set(docs)
    for mid, text in docs.items():
        payload = text.encode()
        n = 1 + hashlib.md5(payload).digest()[2]
        want = {
            f: hashlib.md5(payload + f":{f}".encode()).hexdigest()
            for f in range(0, n, 10)
        }
        assert got[mid] == want, mid


def test_pagerank_matches_python_model(spark, sf_dir):
    """graph_pagerank equals a from-scratch Python fixed-point power
    iteration over the same kNN edges (BIGINT units of 1e-15, so the
    comparison is EXACT), and the ranks sum to ~1 (mass conservation
    up to integer-division truncation)."""
    from collections import defaultdict

    from aardappel_spark.ops.graph import PR_SCALE as _PR_SCALE
    from aardappel_spark.registry import QUERIES

    got = {
        r.vec_id: r.pagerank
        for r in QUERIES["graph_pagerank"](spark, sf_dir).collect()
    }
    edges = [
        (r.vec_id, r.neighbor)
        for r in QUERIES["emb_knn_graph"](spark, sf_dir).collect()
    ]
    nodes = sorted(got)
    n = len(nodes)
    out = defaultdict(list)
    for s, d in edges:
        out[s].append(d)
    r = {v: _PR_SCALE // n for v in nodes}
    base = (15 * _PR_SCALE) // (100 * n)
    for _ in range(3):
        dang = sum(r[v] for v in nodes if v not in out)
        contrib = defaultdict(int)
        for s, ds in out.items():
            share = r[s] // len(ds)
            for d in ds:
                contrib[d] += share
        r = {
            v: base + (85 * (contrib.get(v, 0) + dang // n)) // 100
            for v in nodes
        }
    for v in nodes:
        assert got[v] == r[v] / 1.0e15, (v, got[v], r[v])
    assert abs(sum(got.values()) - 1.0) < 1e-2


def test_gopher_rules_match_python_model(spark, sf_dir):
    """doc_gopher_rules flags equal a from-scratch Python evaluation
    of the named rules per document."""
    from aardappel_spark.registry import _GOPHER_STOPS, QUERIES, _docs

    got = {r.doc_id: r for r in QUERIES["doc_gopher_rules"](spark, sf_dir).collect()}
    for d in _docs(spark, sf_dir).select("doc_id", "text").collect():
        ws = [t for t in d.text.split(" ") if t != ""]
        n = len(ws)
        n1 = max(n, 1)
        mean_len = round(sum(len(t) for t in ws) / n1, 6)
        alpha = round(sum(1 for t in ws if any(c.isascii() and c.isalpha() for c in t)) / n1, 6)
        ell = round(sum(1 for t in ws if t.endswith("...")) / n1, 6)
        stops = len({t.lower() for t in ws} & set(_GOPHER_STOPS))
        r = got[d.doc_id]
        assert r.n_words == n
        assert abs(r.mean_word_len - mean_len) < 1e-9
        assert abs(r.alpha_word_ratio - alpha) < 1e-9
        assert abs(r.ellipsis_ratio - ell) < 1e-9
        assert r.stop_hits == stops
        assert r.pass_word_count == (50 <= n <= 100000)
        assert r.gopher_pass == (
            r.pass_word_count and r.pass_mean_len and r.pass_alpha
            and r.pass_ellipsis and r.pass_stopwords
        )


def test_tokenizer_fertility_matches_python_model(spark, sf_dir):
    """corpus_tokenizer_fertility equals a regex recomputation of the
    BPE-ish token counts and byte/char sums per language."""
    import re
    from collections import defaultdict

    from aardappel_spark.registry import QUERIES, _docs

    pat = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")
    agg = defaultdict(lambda: [0, 0, 0, 0])  # docs, chars, bytes, toks
    for d in _docs(spark, sf_dir).select("lang", "text").collect():
        a = agg[d.lang]
        a[0] += 1
        a[1] += len(d.text)
        a[2] += len(d.text.encode())
        a[3] += len(pat.findall(d.text))
    got = {r.lang: r for r in QUERIES["corpus_tokenizer_fertility"](spark, sf_dir).collect()}
    assert set(got) == set(agg)
    for lang, (nd, ch, by, tk) in agg.items():
        r = got[lang]
        assert r.n_docs == nd and r.n_tokens == tk
        if tk:
            assert abs(r.chars_per_token - round(ch / tk, 6)) < 1e-9
            assert abs(r.bytes_per_token - round(by / tk, 6)) < 1e-9


def test_signal_corr_matches_python_model(spark, sf_dir):
    """corpus_signal_corr equals a from-scratch Pearson over the same
    integer signals, and every r lies in [-1, 1]."""
    import math
    from collections import defaultdict

    from aardappel_spark.registry import QUERIES, _docs, _minhash_pairs_cached

    got = {
        r.signal_pair: r.pearson_r
        for r in QUERIES["corpus_signal_corr"](spark, sf_dir).collect()
    }
    deg = defaultdict(int)
    for r in _minhash_pairs_cached(spark, sf_dir).collect():
        deg[r.doc_a] += 1
        deg[r.doc_b] += 1
    sig = {}
    for d in _docs(spark, sf_dir).select("doc_id", "text", "n_chars").collect():
        toks = [t for t in d.text.split(" ") if t != ""]
        sig[d.doc_id] = {
            "chars": d.n_chars,
            "tokens": len(toks),
            "types": len(set(toks)),
            "deg": deg.get(d.doc_id, 0),
        }

    def pearson(a, b):
        xs = [sig[i][a] for i in sig]
        ys = [sig[i][b] for i in sig]
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sx2, sy2 = sum(x * x for x in xs), sum(y * y for y in ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        return (n * sxy - sx * sy) / (
            math.sqrt(n * sx2 - sx * sx) * math.sqrt(n * sy2 - sy * sy)
        )

    names = ["chars", "tokens", "types", "deg"]
    want = {
        f"{a}~{b}": pearson(a, b)
        for i, a in enumerate(names)
        for b in names[i + 1:]
    }
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-5, (k, got[k], v)
        assert -1.0 - 1e-9 <= got[k] <= 1.0 + 1e-9


def test_cc_stats_matches_cluster_assignment(spark, sf_dir):
    """dedup_cc_stats equals the size histogram of the gated
    dedup_clusters assignment, singletons excluded."""
    from collections import Counter

    from aardappel_spark.registry import QUERIES

    got = {
        r.cluster_size: r.n_clusters
        for r in QUERIES["dedup_cc_stats"](spark, sf_dir).collect()
    }
    members = Counter(
        r.cluster_id for r in QUERIES["dedup_clusters"](spark, sf_dir).collect()
    )
    want = Counter(sz for sz in members.values() if sz >= 2)
    assert got == dict(want)


def test_hybrid_rrf_matches_python_model(spark, sf_dir):
    """retrieval_hybrid_rrf equals a from-scratch RRF over the two
    gated rankings, and every fused doc appears in at least one list."""
    from aardappel_spark.registry import QUERIES

    got = QUERIES["retrieval_hybrid_rrf"](spark, sf_dir).collect()
    lex = sorted(
        QUERIES["retrieval_bm25"](spark, sf_dir).collect(),
        key=lambda r: (-r.bm25, r.doc_id),
    )
    den = sorted(
        QUERIES["ann_cosine"](spark, sf_dir).collect(),
        key=lambda r: (-r.sim, r.vec_id),
    )
    lex_rank = {r.doc_id: i + 1 for i, r in enumerate(lex)}
    den_rank = {r.vec_id: i + 1 for i, r in enumerate(den)}
    fused = {}
    for d in set(lex_rank) | set(den_rank):
        s = 0.0
        if d in lex_rank:
            s += 1.0 / (60 + lex_rank[d])
        if d in den_rank:
            s += 1.0 / (60 + den_rank[d])
        fused[d] = round(s, 6)
    want = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r.doc_id, r.rrf_score) for r in got] == want
    for r in got:
        assert r.lex_rank == lex_rank.get(r.doc_id)
        assert r.dense_rank == den_rank.get(r.doc_id)


def test_rfm_matches_python_model(spark, sf_dir):
    """orders_rfm equals a from-scratch RFM quartile assignment over
    the collected orders, including the deterministic ntile tie-break
    and the segment census totals."""
    from collections import defaultdict
    from decimal import Decimal

    from aardappel_spark.registry import QUERIES

    got = {
        (r.r_quartile, r.f_quartile, r.m_quartile): (r.n_customers, r.segment_spend)
        for r in QUERIES["orders_rfm"](spark, sf_dir).collect()
    }
    per = {}
    for r in spark.read.parquet(f"{sf_dir}/orders.parquet").collect():
        c = per.setdefault(r.o_custkey, [None, 0, Decimal(0)])
        d = r.o_orderdate
        c[0] = d if c[0] is None or d > c[0] else c[0]
        c[1] += 1
        c[2] += Decimal(str(r.o_totalprice)).quantize(Decimal("0.01"))
    maxd = max(v[0] for v in per.values())

    def ntile4(keys):
        n = len(keys)
        out = {}
        base, rem = divmod(n, 4)
        start = 0
        for q in range(1, 5):
            size = base + (1 if q <= rem else 0)
            for k in keys[start:start + size]:
                out[k] = q
            start += size
        return out

    custs = sorted(per)
    rq = ntile4(sorted(custs, key=lambda c: ((maxd - per[c][0]).days, c)))
    fq = ntile4(sorted(custs, key=lambda c: (-per[c][1], c)))
    mq = ntile4(sorted(custs, key=lambda c: (-per[c][2], c)))
    want_n = defaultdict(int)
    want_s = defaultdict(float)
    for c in custs:
        key = (rq[c], fq[c], mq[c])
        want_n[key] += 1
        want_s[key] += float(per[c][2])
    assert {k: v[0] for k, v in got.items()} == dict(want_n)
    for k, (_, spend) in got.items():
        assert abs(spend - round(want_s[k], 2)) < 0.02, k


def test_heldout_nll_matches_python_model(spark, sf_dir):
    """text_heldout_nll equals a from-scratch train-split bigram LM
    with Laplace smoothing scored on the val split, including the
    unseen-bigram occurrence rate."""
    import hashlib
    import math
    from collections import Counter

    from aardappel_spark.registry import QUERIES, _docs

    got = {
        r.doc_id: r for r in QUERIES["text_heldout_nll"](spark, sf_dir).collect()
    }
    splits = {}
    toks = {}
    for d in _docs(spark, sf_dir).select("doc_id", "text").collect():
        t = int(hashlib.md5(f"split{d.doc_id}".encode()).hexdigest()[:8], 16)
        splits[d.doc_id] = (
            "train" if t < 3435973836 else "val" if t < 3865470566 else "test"
        )
        toks[d.doc_id] = [x for x in d.text.split(" ") if x != ""]
    c12, c1, vocab = Counter(), Counter(), set()
    for did, tt in toks.items():
        if splits[did] != "train":
            continue
        vocab.update(tt)
        for a, b in zip(tt, tt[1:]):
            c12[(a, b)] += 1
            c1[a] += 1
    V = len(vocab)
    val_docs = {
        did for did, tt in toks.items()
        if splits[did] == "val" and len(tt) >= 2
    }
    assert set(got) == val_docs
    for did in val_docs:
        tt = toks[did]
        n = 0
        s = 0.0
        oov = 0
        for a, b in zip(tt, tt[1:]):
            n += 1
            s += math.log(c1[a] + V + 1.0) - math.log(c12[(a, b)] + 1.0)
            if c12[(a, b)] == 0:
                oov += 1
        r = got[did]
        assert r.n_bigrams == n
        assert abs(r.heldout_nll - s / n) < 1e-3, did
        assert abs(r.oov_rate - round(oov / n, 6)) < 1e-9
        assert r.heldout_nll > 0


def test_emb_dim_stats_matches_numpy(spark, sf_dir):
    """emb_dim_stats equals numpy per-dimension moments."""
    import numpy as np

    from aardappel_spark.registry import QUERIES

    got = {r.dim: r for r in QUERIES["emb_dim_stats"](spark, sf_dir).collect()}
    M = np.array(
        [
            r.embedding
            for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
        ],
        dtype=np.float64,
    )
    assert set(got) == set(range(M.shape[1]))
    for d in range(M.shape[1]):
        col = M[:, d]
        r = got[d]
        assert r.n == len(col)
        assert abs(r.mean - col.mean()) < 1e-5
        assert abs(r.variance - col.var()) < 1e-5
        assert abs(r.min_x - col.min()) < 1e-5
        assert abs(r.max_x - col.max()) < 1e-5


def test_method_agreement_matches_pair_frames(spark, sf_dir):
    """dedup_method_agreement's partition equals the set algebra of
    the two gated candidate-pair queries, and each bucket's precision
    equals its verified fraction from the gated jaccard query applied
    to the union."""
    from aardappel_spark.ops.dedup import verify_pairs_jaccard
    from aardappel_spark.registry import (
        QUERIES, _docs, _minhash_pairs_cached, _simhash64_cached,
    )
    from aardappel_spark.ops.dedup import simhash_candidate_pairs

    got = {
        r.agreement: r
        for r in QUERIES["dedup_method_agreement"](spark, sf_dir).collect()
    }
    mh = {
        (r.doc_a, r.doc_b)
        for r in _minhash_pairs_cached(spark, sf_dir).collect()
    }
    sh = {
        (r.doc_a, r.doc_b)
        for r in simhash_candidate_pairs(
            _docs(spark, sf_dir), bits=60, n_bands=4, max_hamming=8,
            sig=_simhash64_cached(spark, sf_dir),
        ).collect()
    }
    buckets = {
        "both": mh & sh,
        "minhash_only": mh - sh,
        "simhash_only": sh - mh,
    }
    docs = {d.doc_id: set(t for t in d.text.split(" ") if t) for d in
            _docs(spark, sf_dir).select("doc_id", "text").collect()}
    for name, pairs in buckets.items():
        if not pairs:
            assert name not in got
            continue
        r = got[name]
        assert r.n_pairs == len(pairs), name
        nv = 0
        for a, b in pairs:
            ta, tb = docs[a], docs[b]
            u = len(ta | tb)
            if u and round(len(ta & tb) / u, 4) >= 0.5:
                nv += 1
        assert r.n_verified == nv, name
        assert abs(r.precision - round(nv / len(pairs), 6)) < 1e-9


def test_wau_hll_matches_python_model(spark, sf_dir):
    """events_wau_hll equals a from-scratch rolling HLL merge and
    exact 7-day distinct count; merged estimates track the exact WAU
    within the sketch's error envelope."""
    import hashlib
    from collections import defaultdict
    from datetime import timedelta

    from aardappel_spark.registry import QUERIES
    from aardappel_spark.sources import load_events_ns

    got = {r.day: r for r in QUERIES["events_wau_hll"](spark, sf_dir).collect()}
    ev = load_events_ns(spark, sf_dir).select("ts", "user_id").collect()
    regs = defaultdict(dict)   # day -> register -> max_rho
    users = defaultdict(set)   # day -> users
    from datetime import datetime, timezone

    for r in ev:
        day = datetime.fromtimestamp(r.ts / 1e9, tz=timezone.utc).date()
        hv = int(hashlib.md5(str(r.user_id).encode()).hexdigest()[:15], 16)
        reg, v = hv % 64, hv >> 6
        rho = 55 if v == 0 else 54 - v.bit_length() + 1
        regs[day][reg] = max(regs[day].get(reg, 0), rho)
        users[day].add(r.user_id)
    assert set(got) == set(regs)
    for day in regs:
        window = [day - timedelta(days=k) for k in range(7)]
        merged = {}
        wau = set()
        for d in window:
            for reg, rho in regs.get(d, {}).items():
                merged[reg] = max(merged.get(reg, 0), rho)
            wau |= users.get(d, set())
        inv = sum(2.0 ** -rho for rho in merged.values()) + (64 - len(merged))
        est = round(0.709 * 64 * 64 / inv, 4)
        r = got[day]
        assert abs(r.wau_estimate - est) < 1e-6, day
        assert r.wau_exact == len(wau), day
        assert abs(r.rel_error - round((est - len(wau)) / len(wau), 4)) < 1e-9


def test_seasonal_forecast_matches_python_model(spark, sf_dir):
    """events_seasonal_forecast equals a from-scratch seasonal-naive
    backtest: per-(type, hour) train means, last-day MAE, cold cells."""
    from collections import defaultdict
    from datetime import datetime, timezone
    from decimal import Decimal

    from aardappel_spark.registry import QUERIES
    from aardappel_spark.sources import load_events_ns

    got = {
        r.event_type: r
        for r in QUERIES["events_seasonal_forecast"](spark, sf_dir).collect()
    }
    rows = []
    for r in load_events_ns(spark, sf_dir).select("event_type", "ts", "value").collect():
        mic = r.ts // 1000
        day = datetime.fromtimestamp(mic / 1e6, tz=timezone.utc).date()
        hour = (mic // 3600000000) % 24
        rows.append((r.event_type, day, hour, Decimal(str(r.value)).quantize(Decimal("0.01"))))
    last_day = max(d for _, d, _, _ in rows)
    sums = defaultdict(lambda: [Decimal(0), 0])
    for et, d, h, v in rows:
        if d < last_day:
            s = sums[(et, h)]
            s[0] += v
            s[1] += 1
    per_type = defaultdict(lambda: [0, 0, 0.0])
    for et, d, h, v in rows:
        if d != last_day:
            continue
        p = per_type[et]
        p[0] += 1
        if (et, h) not in sums:
            p[1] += 1
        else:
            s = sums[(et, h)]
            pred = float(s[0]) / s[1]
            p[2] += abs(float(v) - pred)
    assert set(got) == set(per_type)
    for et, (n, cold, errsum) in per_type.items():
        r = got[et]
        assert r.n_test == n and r.n_cold == cold
        n_scored = n - cold
        if n_scored:
            assert abs(r.mae - errsum / n_scored) < 1e-3, et


def test_ks_drift_matches_python_model(spark, sf_dir):
    """corpus_ks_drift equals a from-scratch two-sample KS statistic
    over document lengths, and every D lies in [0, 1]."""
    from collections import defaultdict

    from aardappel_spark.registry import QUERIES, _docs

    got = {
        (r.source_a, r.source_b): r.ks_d
        for r in QUERIES["corpus_ks_drift"](spark, sf_dir).collect()
    }
    by_source = defaultdict(list)
    for d in _docs(spark, sf_dir).select("source", "n_chars").collect():
        by_source[d.source].append(d.n_chars)
    sources = sorted(by_source)
    dom = sorted({x for v in by_source.values() for x in v})
    ecdf = {}
    for s in sources:
        vals = sorted(by_source[s])
        n = len(vals)
        import bisect

        ecdf[s] = [bisect.bisect_right(vals, x) / n for x in dom]
    want = {}
    for i, a in enumerate(sources):
        for b in sources[i + 1:]:
            want[(a, b)] = round(
                max(abs(fa - fb) for fa, fb in zip(ecdf[a], ecdf[b])), 6
            )
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, k
        assert 0.0 <= got[k] <= 1.0


def test_events_interarrival_matches_python_model(spark, sf_dir):
    """events_interarrival equals a python lag-and-bucket model: per-user
    consecutive gaps in micros, bucketed by binary digit count."""
    from collections import defaultdict

    from aardappel_spark.registry import QUERIES, load_events_ns

    got = {
        r.log2_bucket: (r.n_gaps, r.min_gap_mic, r.max_gap_mic)
        for r in QUERIES["events_interarrival"](spark, sf_dir).collect()
    }
    ev = load_events_ns(spark, sf_dir).selectExpr(
        "user_id", "event_id", "ts DIV 1000 as mic"
    ).collect()
    per_user = defaultdict(list)
    for r in ev:
        per_user[r.user_id].append((r.mic, r.event_id))
    buckets = defaultdict(list)
    for rows in per_user.values():
        rows.sort()
        for (m0, _), (m1, _) in zip(rows, rows[1:]):
            gap = m1 - m0
            b = 0 if gap == 0 else len(bin(gap)[2:])
            buckets[b].append(gap)
    want = {
        b: (len(gs), min(gs), max(gs)) for b, gs in buckets.items()
    }
    assert got == want


def test_pack_efficiency_matches_python_model(spark, sf_dir):
    """pack_efficiency_curve equals the closed-form ceil arithmetic over
    per-doc whitespace token counts, for every candidate context size."""
    from aardappel_spark.registry import QUERIES, _docs

    got = {
        r.context_tokens: (
            r.total_tokens, r.total_blocks, r.padded_tokens, r.padding_ppm
        )
        for r in QUERIES["pack_efficiency_curve"](spark, sf_dir).collect()
    }
    ns = [
        len([t for t in d.text.split(" ") if t])
        for d in _docs(spark, sf_dir).select("text").collect()
    ]
    ns = [n for n in ns if n > 0]
    for L in (64, 128, 256, 512):
        blocks = sum((n + L - 1) // L for n in ns)
        tokens = sum(ns)
        padded = blocks * L - tokens
        ppm = (1000000 * padded) // (tokens + padded)
        assert got[L] == (tokens, blocks, padded, ppm), L


def test_ivf_balance_consistent_with_shared_assignment(spark, sf_dir):
    """emb_ivf_balance's one row must describe exactly the shared cached
    IVF assignment every ANN consumer uses (same build, same counts)."""
    from collections import Counter

    from aardappel_spark.registry import QUERIES, _ivf_assigned_cached

    [row] = QUERIES["emb_ivf_balance"](spark, sf_dir).collect()
    sizes = Counter(
        r._c for r in _ivf_assigned_cached(spark, sf_dir).select("_c").collect()
    )
    assert row.n_clusters == len(sizes)
    assert row.n_vecs == sum(sizes.values())
    assert row.max_cluster == max(sizes.values())
    assert row.min_cluster == min(sizes.values())
    assert row.max_share_ppm == (1000000 * max(sizes.values())) // sum(sizes.values())


def test_band_occupancy_matches_signature_frame(spark, sf_dir):
    """emb_band_occupancy's per-band pair mass equals the sum of
    m*(m-1)/2 over the shared banded signature frame's buckets — the
    exact candidate-pair count the banded kNN tier generates per band."""
    from collections import Counter

    from aardappel_spark.registry import QUERIES, _banded_sig_cached

    got = {
        r.band: (r.n_buckets, r.n_members, r.max_occupancy, r.pair_mass)
        for r in QUERIES["emb_band_occupancy"](spark, sf_dir).collect()
    }
    sig = _banded_sig_cached(spark, sf_dir).select("_bands").collect()
    for band in got:
        occ = Counter(r._bands[band] for r in sig)
        assert got[band] == (
            len(occ),
            sum(occ.values()),
            max(occ.values()),
            sum(m * (m - 1) // 2 for m in occ.values()),
        ), band


def test_emb_silhouette_matches_numpy_model(spark, sf_dir):
    """emb_silhouette equals a from-scratch NumPy simplified silhouette
    over the SAME shared IVF build: a = cosine to own centroid, b = best
    other-centroid cosine, s = (a - b) / max(1 - a, 1 - b), averaged per
    cluster — and every vector's own-centroid cosine is its a (never its
    b), so s is well-defined for every assignment the build produced."""
    import numpy as np
    import pytest

    from aardappel_spark.registry import QUERIES, _ivf_build_cached

    assigned, C = _ivf_build_cached(spark, sf_dir)
    rows = assigned.select("_v", "_c").collect()
    V = np.array([r._v for r in rows], dtype=np.float64)
    own = np.array([r._c for r in rows], dtype=np.int64)
    nrm = np.linalg.norm(V, axis=1)
    cos = V @ C.T  # centroids are L2-normalized at build time
    cos = np.where(nrm[:, None] == 0, 0.0, cos / np.where(nrm == 0, 1, nrm)[:, None])
    a = cos[np.arange(len(rows)), own]
    masked = cos.copy()
    masked[np.arange(len(rows)), own] = -np.inf
    b = masked.max(axis=1)
    denom = np.maximum(1 - a, 1 - b)
    s = np.where(denom <= 0, 0.0, (a - b) / np.where(denom <= 0, 1, denom))
    got = {
        r.cid: (r.n_vecs, r.mean_silhouette)
        for r in QUERIES["emb_silhouette"](spark, sf_dir).collect()
    }
    assert set(got) == set(np.unique(own))
    for cid in got:
        sel = s[own == cid]
        assert got[cid][0] == int(sel.size), cid
        assert got[cid][1] == pytest.approx(round(float(sel.mean()), 4), abs=2e-4), cid


def test_emb_hubness_consistent_with_knn_graph(spark, sf_dir):
    """emb_hubness's histogram is exactly the in-degree census of the
    shared kNN graph: per-degree counts match a Counter over the edge
    list, the histogram's total mass equals the corpus size (antihub
    row included), and its edge-weighted mass equals the edge count."""
    from collections import Counter

    from aardappel_spark.registry import QUERIES, q_emb_knn_graph

    edges = q_emb_knn_graph(spark, sf_dir).select("neighbor").collect()
    ind = Counter(r.neighbor for r in edges)
    hist = Counter(Counter(ind.values()))
    got = {
        r.in_deg: r.n_vecs for r in QUERIES["emb_hubness"](spark, sf_dir).collect()
    }
    n_emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    for d, n in hist.items():
        assert got[d] == n, d
    assert sum(got.values()) == n_emb
    assert got.get(0, 0) == n_emb - len(ind)
    assert sum(d * n for d, n in got.items()) == len(edges)


def test_graph_assortativity_matches_numpy_model(spark, sf_dir):
    """graph_assortativity equals numpy's Pearson correlation over the
    symmetrized endpoint-degree pairs of the same dedup'd undirected
    edge list — both the exact integer sufficient statistics and the
    rounded coefficient."""
    from collections import Counter

    import numpy as np
    import pytest

    from aardappel_spark.registry import QUERIES, q_emb_knn_graph

    knn = q_emb_knn_graph(spark, sf_dir).collect()
    und = {
        (min(r.vec_id, r.neighbor), max(r.vec_id, r.neighbor))
        for r in knn
        if r.vec_id != r.neighbor
    }
    deg = Counter()
    for u, v in und:
        deg[u] += 1
        deg[v] += 1
    xs = [deg[u] for u, v in und] + [deg[v] for u, v in und]
    ys = [deg[v] for u, v in und] + [deg[u] for u, v in und]
    [row] = QUERIES["graph_assortativity"](spark, sf_dir).collect()
    assert row.n_edges == len(und)
    assert row.sum_d == sum(deg[u] + deg[v] for u, v in und)
    assert row.sum_dxy == sum(2 * deg[u] * deg[v] for u, v in und)
    assert row.sum_d2 == sum(deg[u] ** 2 + deg[v] ** 2 for u, v in und)
    r = np.corrcoef(xs, ys)[0, 1]
    assert row.assortativity == pytest.approx(round(float(r), 6), abs=2e-6)


def test_customer_cohort_retention_matches_python_model(spark, sf_dir):
    """Cohort triangle equals a dict-based python model over orders:
    same cohorts, same distinct-customer counts per age, ppm against
    the age-0 row via the same integer division."""
    from collections import defaultdict

    from aardappel_spark.registry import QUERIES

    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_custkey", "o_orderdate")
        .collect()
    )
    mi = lambda d: d.year * 12 + d.month - 1  # noqa: E731
    first = {}
    for r in orders:
        first[r.o_custkey] = min(first.get(r.o_custkey, 1 << 60), mi(r.o_orderdate))
    cell = defaultdict(set)
    for r in orders:
        c0 = first[r.o_custkey]
        cell[(c0, mi(r.o_orderdate) - c0)].add(r.o_custkey)
    got = {
        (r.cohort, r.month_age): (r.n_customers, r.retained_ppm)
        for r in QUERIES["customer_cohort_retention"](spark, sf_dir).collect()
    }
    assert len(got) == len(cell)
    import datetime

    for (c0, age), members in cell.items():
        k = (datetime.date(c0 // 12, c0 % 12 + 1, 1), age)
        n0 = len(cell[(c0, 0)])
        assert got[k] == (len(members), (1000000 * len(members)) // n0), k


def test_events_autocorr_matches_numpy_model(spark, sf_dir):
    """events_autocorr equals numpy corrcoef over the zero-filled dense
    daily-count series at every lag 1..7, with n_pairs = n_days - lag."""
    from collections import Counter

    import numpy as np
    import pytest

    from aardappel_spark.registry import QUERIES, load_events_ns

    days = [
        r.d
        for r in load_events_ns(spark, sf_dir)
        .selectExpr("(ts div 1000) div 86400000000 AS d")
        .collect()
    ]
    cnt = Counter(days)
    lo, hi = min(cnt), max(cnt)
    series = np.array([cnt.get(d, 0) for d in range(lo, hi + 1)], dtype=np.float64)
    got = {
        r.lag: (r.n_pairs, r.autocorr)
        for r in QUERIES["events_autocorr"](spark, sf_dir).collect()
    }
    assert set(got) == set(range(1, 8))
    for L in range(1, 8):
        x, y = series[L:], series[:-L]
        assert got[L][0] == len(x)
        r = np.corrcoef(x, y)[0, 1] if x.std() > 0 and y.std() > 0 else 0.0
        assert got[L][1] == pytest.approx(round(float(r), 6), abs=2e-6), L


def test_pq_code_balance_consistent_with_shared_codes(spark, sf_dir):
    """pq_code_balance describes exactly the shared cached PQ encode:
    per-subspace occupancy stats match a Counter over the (_id, _code)
    frame every ANN consumer uses."""
    from collections import Counter

    from aardappel_spark.registry import QUERIES, _pq_build_cached

    codes, _ = _pq_build_cached(spark, sf_dir)
    rows = codes.select("_code").collect()
    got = {
        r.m: (r.n_vecs, r.n_codes_used, r.max_code_n, r.min_code_n, r.max_share_ppm)
        for r in QUERIES["pq_code_balance"](spark, sf_dir).collect()
    }
    n_sub = len(rows[0]._code)
    assert set(got) == set(range(n_sub))
    for m in range(n_sub):
        occ = Counter(r._code[m] for r in rows)
        tot = sum(occ.values())
        assert got[m] == (
            tot,
            len(occ),
            max(occ.values()),
            min(occ.values()),
            (1000000 * max(occ.values())) // tot,
        ), m


def test_doc_hapax_ratio_matches_python_model(spark, sf_dir):
    """doc_hapax_ratio equals a Counter-based model using the same
    whitespace tokenizer over each source's own vocabulary."""
    from collections import Counter, defaultdict

    from aardappel_spark.registry import QUERIES, _docs

    per_source = defaultdict(Counter)
    for r in _docs(spark, sf_dir).select("source", "text").collect():
        per_source[r.source].update(t for t in r.text.split(" ") if t)
    got = {
        r.source: (
            r.n_tokens, r.n_types, r.n_hapax, r.hapax_type_ppm, r.hapax_token_ppm
        )
        for r in QUERIES["doc_hapax_ratio"](spark, sf_dir).collect()
    }
    want_sources = {s for s, c in per_source.items() if c}
    assert set(got) == want_sources
    for s in want_sources:
        c = per_source[s]
        n_tokens, n_types = sum(c.values()), len(c)
        n_hapax = sum(1 for v in c.values() if v == 1)
        assert got[s] == (
            n_tokens,
            n_types,
            n_hapax,
            (1000000 * n_hapax) // n_types,
            (1000000 * n_hapax) // n_tokens,
        ), s


def test_events_burst_rate_matches_python_model(spark, sf_dir):
    """events_burst_rate equals a Counter model: per-user max 1-minute
    event count, histogrammed; total mass = distinct users."""
    from collections import Counter, defaultdict

    from aardappel_spark.registry import QUERIES, load_events_ns

    rows = (
        load_events_ns(spark, sf_dir)
        .selectExpr("user_id", "(ts div 1000) div 60000000 AS minute")
        .collect()
    )
    per_min = Counter((r.user_id, r.minute) for r in rows)
    peak = defaultdict(int)
    for (u, _m), c in per_min.items():
        peak[u] = max(peak[u], c)
    got = {
        r.peak_per_min: r.n_users
        for r in QUERIES["events_burst_rate"](spark, sf_dir).collect()
    }
    assert got == dict(Counter(peak.values()))
    assert sum(got.values()) == len(peak)


def test_doc_simhash_bit_balance_matches_signatures(spark, sf_dir):
    """doc_simhash_bit_balance's per-bit ones counts equal a python bit
    census over the SAME shared signature frame the dedup tier hashes,
    with the ppm from the same integer division."""
    from aardappel_spark.registry import QUERIES, _simhash64_cached

    sigs = [r.simhash for r in _simhash64_cached(spark, sf_dir).collect()]
    got = {
        r.b: (r.n_docs, r.n_ones, r.ones_ppm)
        for r in QUERIES["doc_simhash_bit_balance"](spark, sf_dir).collect()
    }
    assert set(got) == set(range(60))
    for b in range(60):
        ones = sum((s >> b) & 1 for s in sigs)
        assert got[b] == (len(sigs), ones, (1000000 * ones) // len(sigs)), b


def test_events_stickiness_matches_python_model(spark, sf_dir):
    """events_stickiness equals a set-based python model: exact DAU,
    exact trailing-30-day MAU, ppm by the same integer division."""
    import datetime
    from collections import defaultdict

    from aardappel_spark.registry import QUERIES, load_events_ns

    rows = (
        load_events_ns(spark, sf_dir)
        .selectExpr("user_id", "(ts div 1000) div 86400000000 AS d")
        .collect()
    )
    by_day = defaultdict(set)
    for r in rows:
        by_day[r.d].add(r.user_id)
    got = {
        r.day: (r.dau, r.mau, r.stickiness_ppm)
        for r in QUERIES["events_stickiness"](spark, sf_dir).collect()
    }
    assert set(got) == {
        datetime.date(1970, 1, 1) + datetime.timedelta(days=d) for d in by_day
    }
    for d, users in by_day.items():
        mau = set()
        for back in range(30):
            mau |= by_day.get(d - back, set())
        k = datetime.date(1970, 1, 1) + datetime.timedelta(days=d)
        assert got[k] == (
            len(users), len(mau), (1000000 * len(users)) // len(mau)
        ), d


def test_text_readability_matches_python_model(spark, sf_dir):
    """text_readability's per-source sums equal a regex model (same
    word/sentence/vowel-group definitions), and the mean Flesch is the
    closed form over those sums."""
    import re
    from collections import defaultdict

    from aardappel_spark.registry import QUERIES, _docs

    acc = defaultdict(lambda: [0, 0, 0, 0])  # docs, words, sentences, syllables
    for r in _docs(spark, sf_dir).select("source", "text").collect():
        w = len([t for t in r.text.split(" ") if t])
        if w == 0:
            continue
        s = max(len(re.findall(r"[.!?]+", r.text)), 1)
        sy = len(re.findall(r"[aeiouy]+", r.text.lower()))
        a = acc[r.source]
        a[0] += 1
        a[1] += w
        a[2] += s
        a[3] += sy
    got = {
        r.source: (r.n_docs, r.n_words, r.n_sentences, r.n_syllables, r.flesch)
        for r in QUERIES["text_readability"](spark, sf_dir).collect()
    }
    assert set(got) == set(acc)
    for src, (nd, nw, ns, nsy) in acc.items():
        flesch = round(206.835 - 1.015 * (nw / ns) - 84.6 * (nsy / nw), 4)
        assert got[src][:4] == (nd, nw, ns, nsy), src
        assert got[src][4] == pytest.approx(flesch, abs=1e-9), src


def test_orders_repeat_latency_matches_python_model(spark, sf_dir):
    """orders_repeat_latency equals a sorted-python model over orders:
    per customer, gap between the first two (date, orderkey)-ordered
    orders, week-bucketed; total mass = customers with >= 2 orders."""
    from collections import Counter, defaultdict

    from aardappel_spark.registry import QUERIES

    by_ck = defaultdict(list)
    for r in (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr(
            "o_custkey AS ck", "o_orderkey AS ok",
            "unix_micros(cast(o_orderdate as timestamp)) div 86400000000 AS d",
        )
        .collect()
    ):
        by_ck[r.ck].append((r.d, r.ok))
    want = Counter()
    for orders in by_ck.values():
        if len(orders) < 2:
            continue
        orders.sort()
        want[(orders[1][0] - orders[0][0]) // 7] += 1
    got = {
        r.week_bucket: r.n_customers
        for r in QUERIES["orders_repeat_latency"](spark, sf_dir).collect()
    }
    assert got == dict(want)
    assert sum(got.values()) == sum(1 for o in by_ck.values() if len(o) >= 2)


def test_shipping_latency_matches_python_model(spark, sf_dir):
    """shipping_latency's histogram-selected percentiles equal a
    sorted-python model: the k-th percentile is the smallest gap whose
    cumulative count reaches ceil(k*n/100) — no interpolation."""
    from collections import defaultdict

    from aardappel_spark.registry import QUERIES

    o = {
        r.o_orderkey: (r.o_orderpriority, r.od)
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr(
            "o_orderkey", "o_orderpriority",
            "unix_micros(cast(o_orderdate as timestamp)) div 86400000000 AS od",
        )
        .collect()
    }
    gaps = defaultdict(list)
    for r in (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .selectExpr(
            "l_orderkey",
            "unix_micros(cast(l_shipdate as timestamp)) div 86400000000 AS sd",
        )
        .collect()
    ):
        prio, od = o[r.l_orderkey]
        gaps[prio].append(r.sd - od)
    got = {
        r.o_orderpriority: (r.n_items, r.p50_days, r.p90_days, r.p99_days, r.max_days)
        for r in QUERIES["shipping_latency"](spark, sf_dir).collect()
    }
    assert set(got) == set(gaps)
    for prio, g in gaps.items():
        g.sort()
        n = len(g)
        pick = lambda k: g[(k * n + 99) // 100 - 1]  # noqa: E731
        assert got[prio] == (n, pick(50), pick(90), pick(99), g[-1]), prio


def test_events_new_vs_returning_matches_python_model(spark, sf_dir):
    """events_new_vs_returning equals a first-seen-dict model; per day
    new + returning = dau, and summed new_users over all days equals
    the distinct user count."""
    import datetime
    from collections import defaultdict

    from aardappel_spark.registry import QUERIES, load_events_ns

    by_day = defaultdict(set)
    for r in (
        load_events_ns(spark, sf_dir)
        .selectExpr("user_id", "(ts div 1000) div 86400000000 AS d")
        .collect()
    ):
        by_day[r.d].add(r.user_id)
    first = {}
    for d in sorted(by_day):
        for u in by_day[d]:
            first.setdefault(u, d)
    got = {
        r.day: (r.dau, r.new_users, r.returning_users, r.new_ppm)
        for r in QUERIES["events_new_vs_returning"](spark, sf_dir).collect()
    }
    epoch = datetime.date(1970, 1, 1)
    assert set(got) == {epoch + datetime.timedelta(days=d) for d in by_day}
    for d, users in by_day.items():
        new = sum(1 for u in users if first[u] == d)
        k = epoch + datetime.timedelta(days=d)
        assert got[k] == (
            len(users), new, len(users) - new, (1000000 * new) // len(users)
        ), d
    assert sum(v[1] for v in got.values()) == len(first)


def test_corpus_vocab_overlap_matches_python_model(spark, sf_dir):
    """corpus_vocab_overlap equals a set-based python Jaccard over the
    same whitespace tokenizer; every co-occurring pair present, ppm by
    the same integer division."""
    from collections import defaultdict

    from aardappel_spark.registry import QUERIES, _docs

    vocab = defaultdict(set)
    for r in _docs(spark, sf_dir).select("source", "text").collect():
        vocab[r.source].update(t for t in r.text.split(" ") if t)
    got = {
        (r.source_a, r.source_b): (r.n_inter, r.n_a, r.n_b, r.jaccard_ppm)
        for r in QUERIES["corpus_vocab_overlap"](spark, sf_dir).collect()
    }
    srcs = sorted(vocab)
    want_pairs = {
        (a, b)
        for ia, a in enumerate(srcs)
        for b in srcs[ia + 1:]
        if vocab[a] & vocab[b]
    }
    assert set(got) == want_pairs
    for a, b in want_pairs:
        inter = len(vocab[a] & vocab[b])
        union = len(vocab[a] | vocab[b])
        assert got[(a, b)] == (
            inter, len(vocab[a]), len(vocab[b]), (1000000 * inter) // union
        ), (a, b)


def test_vocab_pmi_matches_python_model(spark, sf_dir):
    """vocab_pmi equals a from-scratch python PMI over exact unigram and
    bigram counts, on the same deterministic top-20 bigrams."""
    import math
    from collections import Counter

    from aardappel_spark.registry import QUERIES, _docs

    got = {r.ngram: (r.n, r.pmi) for r in QUERIES["vocab_pmi"](spark, sf_dir).collect()}
    uni, big = Counter(), Counter()
    for d in _docs(spark, sf_dir).select("text").collect():
        toks = [t for t in d.text.split(" ") if t]
        uni.update(toks)
        big.update(" ".join(p) for p in zip(toks, toks[1:]))
    t1, t2 = sum(uni.values()), sum(big.values())
    top = sorted(big.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert set(got) == {k for k, _ in top}
    for ngram, n in top:
        x, y = ngram.split(" ")
        want = round(math.log((n * t1 * t1) / (t2 * uni[x] * uni[y])), 6)
        assert got[ngram][0] == n
        assert abs(got[ngram][1] - want) < 1e-6, ngram


def test_doc_chunk_dupmass_matches_python_model(spark, sf_dir):
    """doc_chunk_dupmass equals a from-scratch python model: md5 of each
    non-overlapping 8-word chunk, duplicated iff seen in >= 2 distinct
    docs corpus-wide, tallied per source with integer-ppm mass."""
    import hashlib
    from collections import Counter, defaultdict

    from aardappel_spark.registry import QUERIES, _docs

    got = {
        r.source: (r.n_chunks, r.n_dup_chunks, r.dup_ppm)
        for r in QUERIES["doc_chunk_dupmass"](spark, sf_dir).collect()
    }
    chunk_docs = defaultdict(set)
    per_source = defaultdict(list)  # source -> list of chunk hashes
    for d in _docs(spark, sf_dir).select("doc_id", "source", "text").collect():
        toks = [t for t in d.text.split(" ") if t]
        if not toks:
            continue
        for i in range(0, len(toks), 8):
            h = hashlib.md5(" ".join(toks[i:i + 8]).encode()).hexdigest()
            chunk_docs[h].add(d.doc_id)
            per_source[d.source].append(h)
    want = {}
    for s, hs in per_source.items():
        n = len(hs)
        nd = sum(1 for h in hs if len(chunk_docs[h]) >= 2)
        want[s] = (n, nd, (1000000 * nd) // n)
    assert got == want


def test_split_leakage_matches_union_find_model(spark, sf_dir):
    """split_leakage's downstream logic (components -> md5-prefix split
    -> cross-pair tallies) equals a python union-find over the SAME
    candidate-pairs frame (the pairs themselves are oracle-verified at
    three scales); the cluster-aware split must leak exactly zero."""
    import hashlib

    from aardappel_spark.registry import (
        QUERIES, _docs, _minhash_pairs_cached,
    )

    row = QUERIES["split_leakage"](spark, sf_dir).collect()[0]
    pairs = [
        (r.doc_a, r.doc_b)
        for r in _minhash_pairs_cached(spark, sf_dir).collect()
    ]
    doc_ids = [r.doc_id for r in _docs(spark, sf_dir).select("doc_id").collect()]
    parent = {d: d for d in doc_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-label cluster id = smallest doc id in the component (roots are
    # always component minima with the max->min union rule above)
    cluster = {d: find(d) for d in doc_ids}

    def is_test(v):
        return hashlib.md5(str(v).encode()).hexdigest()[0] in ("0", "1")

    naive = {d: is_test(d) for d in doc_ids}
    bycl = {d: is_test(cluster[d]) for d in doc_ids}
    assert row.n_pairs == len(pairs)
    assert row.naive_cross_pairs == sum(
        1 for a, b in pairs if naive[a] != naive[b]
    )
    assert row.cluster_cross_pairs == 0
    assert row.cluster_cross_pairs == sum(
        1 for a, b in pairs if bycl[a] != bycl[b]
    )
    assert row.n_docs == len(doc_ids)
    assert row.n_test_naive == sum(naive.values())
    assert row.n_test_cluster == sum(bycl.values())
    # the audit is non-vacuous on this data: there are pairs to leak,
    # and the naive split actually leaks some of them
    assert row.n_pairs > 0 and row.naive_cross_pairs > 0


def test_pq_prebuilt_and_ivfpq_degradation(spark, sf_dir):
    """The session-shared PQ build cannot change answers: pq_topk with
    prebuilt=pq_build(...) equals the inline-build path. And probing
    EVERY inverted list degrades the IVFADC composition to plain PQ —
    the composed tier's self-check, mirroring the n_probe=16 row of
    ann_probe_curve reading recall 1.0 against exact."""
    from aardappel_spark.ops.similarity import (
        ivf_build,
        ivfpq_topk,
        pq_build,
        pq_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pb = pq_build(emb)
    inline = pq_topk(emb, query_id=0, k=10).collect()
    shared = pq_topk(emb, query_id=0, k=10, prebuilt=pb).collect()
    assert inline == shared
    full_probe = ivfpq_topk(
        emb, query_id=0, k=10, n_probe=16,
        prebuilt=ivf_build(emb), prebuilt_pq=pb,
    ).collect()
    assert full_probe == shared


def test_synthetic_media_payloads_decode_to_formula_dims(spark, sf_dir):
    """The engine-portable payload constructor must emit genuinely
    well-formed containers: pull the actual Spark-built bytes and
    decode them with the pure-python parser, checking against the
    construction formulas (width = 4*(1+id%4) for BMP, rate table for
    WAV, ...) AND against a from-scratch struct re-read."""
    import struct

    from aardappel_spark.ops.multimodal import decode_header, synthetic_media
    from aardappel_spark.registry import _docs

    rows = synthetic_media(_docs(spark, sf_dir).limit(40)).collect()
    assert len(rows) == 40
    seen = set()
    for r in rows:
        p = bytes(r.payload)
        arm = r.media_id % 7
        seen.add(arm)
        if arm == 3:
            if (r.media_id // 7) % 5 == 0:
                # the truncated-ftyp stub arm: the real ISO-BMFF box
                # walk classifies it as MALFORMED (no moov box) ->
                # ValueError per decode_header's contract (ValueError =
                # malformed bytes, NotImplementedError = valid
                # container needing a codec)
                with pytest.raises(ValueError):
                    decode_header(p)
                continue
            # real minimal ISO-BMFF tree: frame count / dims / duration
            # must come back from the actual box bytes
            d = decode_header(p)
            ts = {0: 600, 1: 1000, 2: 90000}[r.media_id % 3]
            dur = ts * (3 + r.media_id % 57) + r.media_id % 97
            assert d["format"] == "mp4"
            assert d["width"] == 16 * (1 + r.media_id % 20)
            assert d["height"] == 16 * (1 + r.media_id % 12)
            assert d["n_samples"] == 1 + r.media_id % 240
            assert d["duration_ms"] == dur * 1000 // ts
            continue
        d = decode_header(p)
        if arm == 0:
            assert d["format"] == "bmp"
            assert d["width"] == 4 * (1 + r.media_id % 4)
            assert d["height"] == 1 + r.media_id % 5
            # independent struct re-read of the raw header
            assert struct.unpack_from("<i", p, 18)[0] == d["width"]
            assert len(p) == struct.unpack_from("<I", p, 2)[0]
        elif arm == 1:
            assert d["format"] == "ppm"
            assert d["width"] == 1 + r.media_id % 3
            assert d["height"] == 1 + r.media_id % 4
            # plain PPM: payload is pure ASCII with 3*w*h pixel values
            vals = p.decode("ascii").split("\n")[3].split(" ")
            assert len(vals) == 3 * d["width"] * d["height"]
        elif arm == 2:
            assert d["format"] == "wav"
            rate = {0: 8000, 1: 16000, 2: 44100}[r.media_id % 3]
            assert d["sample_rate"] == rate
            assert d["n_samples"] == 50 + r.media_id % 100
            assert d["duration_ms"] == d["n_samples"] * 1000 // rate
        elif arm == 4:
            assert d["format"] == "png"
            assert d["width"] == 1 + r.media_id % 9
            assert d["height"] == 1 + r.media_id % 6
            ch = {0: 1, 1: 3, 2: 4, 3: 1}[r.media_id % 4]
            assert d["n_channels"] == ch
            if r.media_id % 4 == 3:  # palette arm carries a PLTE chunk
                assert b"PLTE" in p
            # r12: every other grey image is 16-bit (depth byte 0x10);
            # r13: the remaining grey images are 4-bit packed (0x04),
            # and every other 16-bit image is Adam7 interlaced
            assert p[24] == (
                16 if r.media_id % 8 == 4
                else 4 if r.media_id % 8 == 0
                else 8
            )
            assert p[28] == (1 if r.media_id % 16 == 12 else 0)
            # independent struct re-read: IHDR must be the first chunk
            assert p[12:16] == b"IHDR"
            assert struct.unpack_from(">I", p, 16)[0] == d["width"]
        elif arm == 5:
            assert d["format"] == "gif"
            assert d["width"] == 1 + r.media_id % 12
            assert d["height"] == 1 + r.media_id % 10
            assert p[:6] == b"GIF89a" and p[-1:] == b";"
            assert struct.unpack_from("<H", p, 6)[0] == d["width"]
        else:
            assert d["format"] == "jpeg"
            assert d["width"] == 1 + r.media_id % 13
            assert d["height"] == 1 + r.media_id % 11
            assert d["n_channels"] == 3
            assert p[:2] == b"\xff\xd8" and p[-2:] == b"\xff\xd9"
            # APP0/JFIF really sits before the SOF (the walk is forced)
            assert p[2:4] == b"\xff\xe0" and p[6:10] == b"JFIF"
    assert seen == {0, 1, 2, 3, 4, 5, 6}


def test_synthetic_media_kind_gates_decodability(spark, sf_dir):
    """r13 ADVICE #2: the JVM-side kind pre-filters in the kind-gated
    queries (pixel/audio/video) are output-equivalent ONLY because a
    non-matching arm can never satisfy the downstream decode — pin that
    invariant in-repo instead of only via the 3-scale oracle sweeps.
    For a 70-doc sweep (10 per %7 arm): the decoded format class of
    every payload must match its ``kind`` column exactly — no image/
    video payload decodes as WAV (audio_stats would NULL it), no
    image/audio payload parses as mp4, and no audio/video payload
    decodes as any image format."""
    from aardappel_spark.ops.multimodal import decode_header, synthetic_media
    from aardappel_spark.registry import _docs

    image_formats = {"bmp", "ppm", "png", "gif", "jpeg"}
    rows = synthetic_media(_docs(spark, sf_dir).limit(70)).collect()
    assert len(rows) == 70
    kinds_seen = set()
    for r in rows:
        kinds_seen.add(r.kind)
        try:
            fmt = decode_header(bytes(r.payload))["format"]
        except (NotImplementedError, ValueError):
            # only the truncated-ftyp video stub may refuse — an
            # unexpected refusal on another arm would silently shrink a
            # kind-gated query's output
            assert r.kind == "video", (r.media_id, r.kind)
            continue
        if r.kind == "audio":
            assert fmt == "wav", (r.media_id, fmt)
        elif r.kind == "video":
            assert fmt == "mp4", (r.media_id, fmt)
        else:
            assert fmt in image_formats, (r.media_id, fmt)
    assert kinds_seen == {"image", "audio", "video"}


def test_doc_winnowing_matches_python_model(spark, sf_dir):
    """Winnowing census vs a from-scratch python implementation of
    Schleimer et al.'s scheme (4-gram md5 hashes, w=4 window minimum,
    distinct selected values per doc) over the real testdata."""
    import hashlib as _hl

    import duckdb as _duck

    from aardappel_spark.registry import QUERIES

    docs = _duck.connect().execute(
        f"SELECT doc_id, COALESCE(text,''), source FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    model = {}
    for doc_id, text, source in docs:
        toks = [t for t in text.split(" ") if t]
        if len(toks) < 4:
            grams = [" ".join(toks)]
        else:
            grams = [" ".join(toks[i:i + 4]) for i in range(len(toks) - 3)]
        hs = [int(_hl.md5(g.encode()).hexdigest()[:15], 16) for g in grams]
        if len(hs) < 4:
            continue  # no full window
        wmins = [min(hs[i - 3: i + 1]) for i in range(3, len(hs))]
        nd, nw, nf = model.get(source, (0, 0, 0))
        model[source] = (nd + 1, nw + len(wmins), nf + len(set(wmins)))
    got = {
        r.source: (r.n_docs, r.n_windows, r.n_fingerprints)
        for r in QUERIES["doc_winnowing"](spark, sf_dir).collect()
    }
    assert got == model


def test_chunk_sliding_matches_python_model(spark, sf_dir):
    """Sliding-chunk accounting vs the python closed form (size 32,
    stride 24, last chunk truncated)."""
    import duckdb as _duck

    from aardappel_spark.registry import QUERIES

    docs = _duck.connect().execute(
        f"SELECT COALESCE(text,''), source FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    model = {}
    for text, source in docs:
        L = len([t for t in text.split(" ") if t])
        if L == 0:
            continue
        n = 1 if L <= 32 else 1 + (L - 32 + 23) // 24
        emitted = sum(min(32, L - 24 * i) for i in range(n))
        nc, em, ct = model.get(source, (0, 0, 0))
        model[source] = (nc + n, em + emitted, ct + L)
    got = {
        r.source: (r.n_chunks, r.emitted_tokens, r.corpus_tokens)
        for r in QUERIES["chunk_sliding"](spark, sf_dir).collect()
    }
    assert got == model
    # duplication factor >= 1e6 by construction (overlap only adds)
    for r in QUERIES["chunk_sliding"](spark, sf_dir).collect():
        assert r.duplication_ppm >= 1000000


def test_events_user_entropy_matches_python_model(spark, sf_dir):
    """Entropy cohorts vs a direct python fold (H = ln(n) - sum(c ln c)/n
    over each user's event-type counts)."""
    import collections
    import math as _m

    import duckdb as _duck

    from aardappel_spark.registry import QUERIES

    rows = _duck.connect().execute(
        f"SELECT user_id, event_type FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    per = collections.Counter(rows)
    by_user = collections.defaultdict(list)
    for (u, t), c in per.items():
        by_user[u].append(c)
    cohorts = collections.defaultdict(list)
    for u, cs in by_user.items():
        n = sum(cs)
        h = _m.log(n) - sum(c * _m.log(c) for c in cs) / n
        cohorts[len(cs)].append(h)
    model = {
        k: (len(v), round(sum(v) / len(v), 6)) for k, v in cohorts.items()
    }
    got = {
        r.n_types: (r.n_users, round(r.mean_entropy, 6))
        for r in QUERIES["events_user_entropy"](spark, sf_dir).collect()
    }
    assert set(got) == set(model)
    for k in model:
        assert got[k][0] == model[k][0]
        assert abs(got[k][1] - model[k][1]) < 2e-6, (k, got[k], model[k])


def test_orders_mix_shift_shares_sum_and_lag(spark, sf_dir):
    """Mix-shift invariants: per month the priority shares sum to ~1e6
    ppm (integer-div truncation loses < n_priorities ppm), and each
    delta equals share - previous month's share for that priority
    (first month delta 0)."""
    import collections

    from aardappel_spark.registry import QUERIES

    rows = QUERIES["orders_mix_shift"](spark, sf_dir).collect()
    by_month = collections.defaultdict(int)
    for r in rows:
        by_month[r.month] += r.share_ppm
    for m, s in by_month.items():
        assert 1000000 - 5 <= s <= 1000000, (m, s)
    hist = collections.defaultdict(dict)
    for r in rows:
        hist[r.priority][r.month] = r
    for p, months in hist.items():
        ordered = sorted(months)
        assert months[ordered[0]].share_delta_ppm == 0
        for a, b in zip(ordered, ordered[1:]):
            assert (months[b].share_delta_ppm
                    == months[b].share_ppm - months[a].share_ppm), (p, b)


def test_setsim_prefix_pairs_matches_python_model(spark):
    """Exhaustive check on a small corpus: the prefix filter must
    surface EVERY pair with Jaccard >= 4/5 (no false negatives — the
    PPJoin guarantee), and the verified flags must equal a brute-force
    python all-pairs Jaccard."""
    from aardappel_spark.ops.dedup import setsim_prefix_pairs

    texts = {
        1: "alpha beta gamma delta epsilon",
        2: "alpha beta gamma delta epsilon",       # exact dup of 1
        3: "alpha beta gamma delta zeta",           # 4/6 jaccard vs 1
        4: "alpha beta gamma delta epsilon zeta",   # 5/6 vs 1 -> verified
        5: "omega psi chi",
        6: "completely different tokens here now",
        7: "",                                      # empty
        8: "alpha",                                 # single shared token
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b): (r.n_inter, bool(r.verified))
        for r in setsim_prefix_pairs(docs, 4, 5).collect()
    }
    sets = {i: set(t.split()) - {""} for i, t in texts.items()}
    expect_verified = set()
    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                inter = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                if 5 * inter >= 4 * union:
                    expect_verified.add((a, b))
    got_verified = {p for p, (_, v) in got.items() if v}
    assert got_verified == expect_verified, (got_verified, expect_verified)
    assert (1, 2) in got_verified and (1, 4) in got_verified
    assert (1, 3) not in got_verified
    for (a, b), (inter, _) in got.items():
        assert inter == len(sets[a] & sets[b])


def test_setsim_prefix_join_is_bounded_by_rare_tokens(spark):
    """The candidate join must key on LOW-df prefix tokens: a stopword
    shared by every doc must produce no candidate pair by itself when
    each doc also has rarer tokens filling its prefix."""
    from aardappel_spark.ops.dedup import setsim_prefix_pairs

    # 10 docs all share 'the' (df=10) but each has 4 unique tokens:
    # prefix p = 5 - ceil(0.8*5) + 1 = 2 -> two rarest (unique) tokens,
    # 'the' (highest df) never enters any prefix -> zero candidates
    docs = spark.createDataFrame(
        [(i, f"the u{i}a u{i}b u{i}c u{i}d") for i in range(10)],
        "doc_id long, text string",
    )
    assert setsim_prefix_pairs(docs, 4, 5).count() == 0


def test_setsim_no_false_negatives_randomized(spark):
    """PPJoin guarantee under the length + positional filters: on a
    seeded random corpus, EVERY pair with token-set Jaccard >= tau must
    appear in the output with verified=True — brute-force all-pairs is
    the model. Mix of near-dup clusters and unrelated docs."""
    import random

    from aardappel_spark.ops.dedup import setsim_prefix_pairs

    rng = random.Random(97)
    vocab = [f"w{i:03d}" for i in range(400)]
    rows = []
    did = 0
    for c in range(12):
        base = rng.sample(vocab, rng.randint(5, 30))
        for _ in range(rng.randint(1, 4)):
            t = list(base)
            # light edits: keep some pairs above tau, push others below
            for _ in range(rng.randint(0, 3)):
                op = rng.random()
                if op < 0.5 and len(t) > 3:
                    t.pop(rng.randrange(len(t)))
                else:
                    t.append(rng.choice(vocab))
            rng.shuffle(t)
            rows.append((did, " ".join(t)))
            did += 1
    for tau_num, tau_den in [(4, 5), (1, 2), (9, 10)]:
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r.id_a, r.id_b)
            for r in setsim_prefix_pairs(docs, tau_num, tau_den).collect()
            if r.verified
        }
        sets = {i: set(t.split()) for i, t in rows}
        expect = set()
        for a in sets:
            for b in sets:
                if a < b:
                    inter = len(sets[a] & sets[b])
                    union = len(sets[a] | sets[b])
                    if tau_den * inter >= tau_num * union:
                        expect.add((a, b))
        assert got == expect, (tau_num, tau_den, got ^ expect)


def test_setsim_length_filter_prunes_size_incompatible(spark):
    """A pair sharing a rare prefix token but with incompatible sizes
    (tau*max > min) must be pruned AT CANDIDATE TIME — it never reaches
    the verify join, so it is absent from the output entirely."""
    from aardappel_spark.ops.dedup import setsim_prefix_pairs

    filler = " ".join(f"f{i}" for i in range(36))
    docs = spark.createDataFrame(
        [(1, "rare a b c"), (2, f"rare {filler}")],
        "doc_id long, text string",
    )
    # J <= 4/40 << 4/5; sizes 4 vs 37 fail 5*4 >= 4*37
    assert setsim_prefix_pairs(docs, 4, 5).count() == 0


def test_setsim_shingle_mode_matches_python_model(spark):
    """shingle=3 tokenizes into word 3-grams (w-shingling); brute-force
    3-gram Jaccard is the model. Docs shorter than 3 words produce no
    shingles and drop out of the join entirely."""
    from aardappel_spark.ops.dedup import setsim_prefix_pairs

    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "the quick brown fox jumps over the lazy cat",
        3: "the quick brown fox jumps over the lazy dog",  # exact dup of 1
        4: "a completely different sentence structure here",
        5: "two words",       # < 3 words -> no shingles
        6: "",                # empty
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    out = setsim_prefix_pairs(docs, 1, 2, shingle=3).collect()
    got = {(r.id_a, r.id_b): (r.n_inter, bool(r.verified)) for r in out}

    def sh3(t):
        w = [x for x in t.split(" ") if x]
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    sets = {i: sh3(t) for i, t in texts.items()}
    for (a, b), (inter, v) in got.items():
        assert inter == len(sets[a] & sets[b]), (a, b)
    expect_verified = set()
    for a in sets:
        for b in sets:
            if a < b and (sets[a] or sets[b]):
                i_ = len(sets[a] & sets[b])
                u_ = len(sets[a] | sets[b])
                if u_ and 2 * i_ >= 1 * u_:
                    expect_verified.add((a, b))
    assert {p for p, (_, v) in got.items() if v} == expect_verified
    ids_seen = {i for p in got for i in p}
    assert 5 not in ids_seen and 6 not in ids_seen


def test_setsim_degenerate_regime_guard_refuses(spark):
    """On a token space with no rare tail the kernel must REFUSE before
    launching the candidate join (the r8 fixture degenerated to 97% of
    all pairs). The guard bound is the prefix-bucket pair mass."""
    import pytest

    from aardappel_spark.ops.dedup import setsim_prefix_pairs

    # 30 docs over a 5-token vocabulary: every prefix bucket is huge
    docs = spark.createDataFrame(
        [(i, "aa bb cc dd ee") for i in range(30)],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="degenerate token space"):
        setsim_prefix_pairs(docs, 4, 5, guard_max_candidates=10).count()
    # explicit generous bound lets the same corpus through
    assert setsim_prefix_pairs(
        docs, 4, 5, guard_max_candidates=10_000
    ).count() == 30 * 29 // 2


def test_kcore_census_matches_python_model(spark):
    """Peel a known small graph and compare every round against a
    python reference implementation."""
    import random

    from aardappel_spark.ops.graph import kcore_census

    rng = random.Random(13)
    edges = set()
    # a dense clique of 6 (survives k=3) + a tail of degree-1/2 nodes
    for a in range(6):
        for b in range(a + 1, 6):
            edges.add((a, b))
    for i in range(6, 20):
        edges.add((rng.randrange(0, i), i))
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    got = {
        r.round: (r.n_nodes, r.n_edges)
        for r in kcore_census(df, k=3, rounds=3).collect()
    }

    cur = set(edges)
    expect = {}
    for r in range(4):
        deg = {}
        for (u, v) in cur:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        expect[r] = (len(deg), len(cur))
        keep = {n for n, d in deg.items() if d >= 3}
        cur = {(u, v) for (u, v) in cur if u in keep and v in keep}
    assert got == expect, (got, expect)
    # the clique core must survive every round
    assert got[3][0] >= 6


def test_kcore_census_empty_graph(spark):
    from aardappel_spark.ops.graph import kcore_census

    df = spark.createDataFrame([], "src long, dst long")
    rows = {r.round: (r.n_nodes, r.n_edges)
            for r in kcore_census(df, k=3, rounds=2).collect()}
    assert rows == {0: (0, 0), 1: (0, 0), 2: (0, 0)}


def test_budget_allocation_sums_exactly_and_matches_model(spark, sf_dir):
    """Largest-remainder apportionment: final allocations must sum to
    EXACTLY the budget, and every row must match a python model."""
    from aardappel_spark.registry import QUERIES

    rows = QUERIES["corpus_budget_allocation"](spark, sf_dir).collect()
    B = 1_000_000
    assert sum(r.final_alloc for r in rows) == B
    toks = {(r.source, r.lang): r.tokens for r in rows}
    T = sum(toks.values())
    base = {k: (B * t) // T for k, t in toks.items()}
    rem = {k: (B * t) % T for k, t in toks.items()}
    left = B - sum(base.values())
    order = sorted(toks, key=lambda k: (-rem[k], k[0], k[1]))
    bump = set(order[:left])
    for r in rows:
        k = (r.source, r.lang)
        assert r.base_alloc == base[k], k
        assert r.final_alloc == base[k] + (1 if k in bump else 0), k


def test_rolling_percentile_matches_python_model(spark, sf_dir):
    """Histogram-exact rolling p50/p95 must equal the brute-force
    python percentile over each 7-day window (ceil-rank definition)."""
    import math
    from collections import defaultdict

    import pandas as pd

    from aardappel_spark.registry import QUERIES

    got = {
        r.day: (r.n_events, r.p50_cents, r.p95_cents)
        for r in QUERIES["events_rolling_percentile"](spark, sf_dir).collect()
    }
    pdf = pd.read_parquet(f"{sf_dir}/events.parquet")[["ts", "value"]]
    days = pdf["ts"].dt.floor("D").dt.date
    cents = (pdf["value"] * 100).round().astype("int64")
    by_day = defaultdict(list)
    for d, c in zip(days, cents):
        by_day[d].append(c)
    for anchor in sorted(set(days)):
        window = []
        for d, vals in by_day.items():
            if 0 <= (anchor - d).days <= 6:
                window.extend(vals)
        window.sort()
        n = len(window)
        p50 = window[math.ceil(50 * n / 100) - 1]
        p95 = window[math.ceil(95 * n / 100) - 1]
        assert got[anchor] == (n, p50, p95), anchor


def test_version_diff_census_invariants(spark, sf_dir):
    """The four diff classes must partition both live sets."""
    from aardappel_spark.registry import QUERIES

    [r] = QUERIES["cdc_version_diff"](spark, sf_dir).collect()
    assert r.n_live_v1 == r.n_deleted + r.n_updated + r.n_unchanged
    assert r.n_live_v2 == r.n_added + r.n_updated + r.n_unchanged
    assert r.n_live_v2 > 0
    # the stream genuinely crosses the cutoff: v1 is a proper subset era
    assert r.n_added > 0


def test_top_terms_matches_python_model(spark, sf_dir):
    from collections import Counter, defaultdict

    import pandas as pd

    from aardappel_spark.ops.text import STOPWORDS
    from aardappel_spark.registry import QUERIES

    got = {
        r.term: (r.n_docs_lead, r.df, r.max_tf)
        for r in QUERIES["text_top_terms"](spark, sf_dir).collect()
    }
    pdf = pd.read_parquet(f"{sf_dir}/documents.parquet")[["doc_id", "text"]]
    stops = set(STOPWORDS)
    tf = {}
    dfreq = Counter()
    for _, row in pdf.iterrows():
        toks = [t for t in (row.text or "").split(" ") if t and t not in stops]
        c = Counter(toks)
        tf[row.doc_id] = c
        dfreq.update(c.keys())
    leads = defaultdict(lambda: [0, 0, 0])
    for doc, c in tf.items():
        if not c:
            continue
        term = min(c, key=lambda t: (-c[t], dfreq[t], t))
        leads[term][0] += 1
        leads[term][1] = dfreq[term]
        leads[term][2] = max(leads[term][2], c[term])
    expect = {t: tuple(v) for t, v in leads.items() if v[0] >= 2}
    assert got == expect


def test_every_knn_graph_consumer_has_probe_kernel():
    """Every registry query built on the shared banded kNN graph must
    register a decomposed consumer kernel in GRAPH_CONSUMERS — that is
    what gives it a measured `<name>_dialed` scale-probe leg; a missing
    entry means a consumer ships without its linear-in-edges
    demonstration (the r8 graph_kcore gap)."""
    import inspect

    from aardappel_spark.registry import QUERIES
    from aardappel_spark.registry.graph import GRAPH_CONSUMERS

    consumers = set()
    for name, fn in QUERIES.items():
        if name == "emb_knn_graph":
            continue  # the build itself, timed as knn_graph_build_dialed
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):
            continue
        if "q_emb_knn_graph" in src or "_knn_edges_cached" in src:
            consumers.add(name)
    missing = consumers - set(GRAPH_CONSUMERS)
    assert not missing, (
        f"kNN-graph consumers without a decomposed probe kernel: "
        f"{sorted(missing)} — register them in registry.graph.GRAPH_CONSUMERS"
    )
    # and the registered kernels must correspond to real queries
    assert set(GRAPH_CONSUMERS) <= set(QUERIES)


def test_graph_consumer_kernels_run_on_small_graph(spark):
    """Each decomposed consumer kernel must actually execute on a tiny
    (emb, edges) pair and return rows with its expected shape."""
    from aardappel_spark.registry.graph import GRAPH_CONSUMERS

    emb = spark.createDataFrame(
        [(i, i % 3, [float(i), 1.0]) for i in range(8)],
        "vec_id long, label int, embedding array<float>",
    )
    edges = spark.createDataFrame(
        [(i, (i + 1) % 8) for i in range(8)] + [(0, 4), (2, 6)],
        "src long, dst long",
    )
    for name, kern in GRAPH_CONSUMERS.items():
        rows = kern(spark, emb, edges).collect()
        assert rows, name


def test_containment_prefix_pairs_matches_python_model(spark):
    """Asymmetric containment: brute-force |A∩B|/|A| >= tau over all
    ordered pairs is the model — the quote-in-page case (small set
    fully inside a big one) MUST surface even though its Jaccard is
    tiny, and the reverse direction (big in small) must not."""
    import random

    from aardappel_spark.ops.dedup import containment_prefix_pairs

    rng = random.Random(41)
    vocab = [f"w{i:03d}" for i in range(300)]
    rows = {}
    big = rng.sample(vocab, 60)
    rows[1] = " ".join(big)                      # the page
    rows[2] = " ".join(big[10:20])               # quote: contained in 1
    rows[3] = " ".join(big[10:19] + ["zzz"])     # 9/10 inside 1
    rows[4] = " ".join(rng.sample(vocab, 40))    # unrelated
    for i in range(5, 15):                       # noise docs
        rows[i] = " ".join(rng.sample(vocab, rng.randint(5, 30)))
    docs = spark.createDataFrame(
        list(rows.items()), "doc_id long, text string"
    )
    for tau_num, tau_den in [(9, 10), (4, 5), (1, 2)]:
        got = {
            (r.id_a, r.id_b)
            for r in containment_prefix_pairs(docs, tau_num, tau_den).collect()
            if r.contained
        }
        sets = {i: set(t.split()) for i, t in rows.items()}
        expect = set()
        for a in sets:
            for b in sets:
                if a != b and sets[a]:
                    if tau_den * len(sets[a] & sets[b]) >= tau_num * len(sets[a]):
                        expect.add((a, b))
        assert got == expect, (tau_num, tau_den, got ^ expect)
    # the canonical asymmetry at tau=9/10: quote in page, not reverse
    got_91 = {
        (r.id_a, r.id_b)
        for r in containment_prefix_pairs(docs, 9, 10).collect()
        if r.contained
    }
    assert (2, 1) in got_91 and (1, 2) not in got_91


def test_containment_guard_refuses_degenerate(spark):
    import pytest

    from aardappel_spark.ops.dedup import containment_prefix_pairs

    docs = spark.createDataFrame(
        [(i, "aa bb cc dd ee") for i in range(30)],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="degenerate token space"):
        containment_prefix_pairs(docs, 9, 10, guard_max_candidates=10).count()


def test_shingle_saturation_matches_python_model(spark, sf_dir):
    """The w=1..5 census against a from-scratch python model over the
    real documents table."""
    import duckdb as _duck

    from aardappel_spark.registry import QUERIES

    got = {
        r.w: (r.n_postings, r.n_distinct, r.mean_df_ppm)
        for r in QUERIES["text_shingle_saturation"](spark, sf_dir).collect()
    }
    con = _duck.connect()
    texts = [
        t[0]
        for t in con.execute(
            f"SELECT text FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
    ]
    for w in range(1, 6):
        postings, distinct = 0, set()
        for t in texts:
            ws = [x for x in t.split(" ") if x]
            sh = (
                set(ws)
                if w == 1
                else {" ".join(ws[i:i + w]) for i in range(len(ws) - w + 1)}
            )
            postings += len(sh)
            distinct |= sh
        assert got[w] == (
            postings,
            len(distinct),
            (1_000_000 * postings) // len(distinct),
        ), w
    # the diagnostic's point on this fixture: unigrams are saturated,
    # 4-grams are not
    assert got[1][2] > 100 * got[4][2]
