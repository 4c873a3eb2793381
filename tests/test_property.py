"""Property-based tests (hypothesis) — the operators' contracts on random
inputs, not just the curated fixtures. Mirrors the reference's own
generative style (packed_vector.rs quantization bounds are asserted over
seeded random vectors). Example counts are small: every example is a real
Spark job on local[32]."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

PROP = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)

finite = st.floats(
    min_value=-1000, max_value=1000, allow_nan=False, allow_infinity=False
)


@PROP
@given(vec=st.lists(finite, min_size=2, max_size=48))
def test_quantize_roundtrip_error_bound(spark, vec):
    """Dequantized value within half a bin of the original — the invariant
    behind the reference's max-err<0.0005 claim (packed_vector.rs:142-143)."""
    from victor_spark.functions.vector import dequantize, quantize

    df = spark.createDataFrame([(vec,)], "v array<double>")
    out = df.select(quantize("v").alias("q"), "v").select(
        "v", dequantize("q.quant", "q.qmin", "q.qmax").alias("r")
    )
    row = out.first()
    # half a bin, plus the float32 rounding of the stored qmin/qmax
    # endpoints (the reference stores f32 min/max too, packed_vector.rs:3-9)
    f32_slack = 2.0 ** -22 * max(1.0, abs(min(vec)), abs(max(vec)))
    half_bin = (max(vec) - min(vec)) / 255.0 / 2.0 + f32_slack
    for x, r in zip(row["v"], row["r"]):
        assert abs(x - r) <= half_bin


asof_rows = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 100), finite),
    min_size=1, max_size=25,
)


@PROP
@given(left=asof_rows, right=asof_rows)
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    """asof_join == pandas.merge_asof(direction='backward') per key."""
    from victor_spark.operators.asof import asof_join

    # dedupe right on (key, ts): merge_asof picks the LAST among equal ts;
    # our tie-break is the max payload struct — align by keeping one row
    seen = {}
    for k, ts, v in right:
        seen[(k, ts)] = v
    right = [(k, ts, v) for (k, ts), v in seen.items()]

    ldf = spark.createDataFrame(left, "k int, ts int, lval double")
    rdf = spark.createDataFrame(right, "k int, ts int, rval double")
    got = {
        (r["k"], r["ts"], r["lval"]): r["rval_right"]
        for r in asof_join(ldf, rdf, on=["k"], left_ts="ts", right_ts="ts").collect()
    }

    lpd = pd.DataFrame(left, columns=["k", "ts", "lval"]).sort_values("ts", kind="stable")
    rpd = pd.DataFrame(right, columns=["k", "ts", "rval"]).sort_values("ts", kind="stable")
    exp_df = pd.merge_asof(lpd, rpd, on="ts", by="k", direction="backward")
    for _, row in exp_df.iterrows():
        exp = None if pd.isna(row["rval"]) else row["rval"]
        assert got[(row["k"], row["ts"], row["lval"])] == exp


@PROP
@given(
    points=st.lists(st.integers(0, 200), min_size=1, max_size=30, unique=True),
    intervals=st.lists(
        st.tuples(st.integers(0, 200), st.integers(0, 60)),
        min_size=1, max_size=15,
    ),
    width=st.integers(1, 50),
)
def test_range_join_matches_brute_force(spark, points, intervals, width):
    from victor_spark.operators.ranges import range_join_binned

    p = spark.createDataFrame([(i, float(t)) for i, t in enumerate(points)],
                              "pid long, t double")
    iv = spark.createDataFrame(
        [(j, float(s), float(s + ln)) for j, (s, ln) in enumerate(intervals)],
        "iid long, s double, e double",
    )
    got = {(r["pid"], r["iid"])
           for r in range_join_binned(p, iv, "t", "s", "e", float(width)).collect()}
    exp = {
        (i, j)
        for i, t in enumerate(points)
        for j, (s, ln) in enumerate(intervals)
        if s <= t < s + ln
    }
    assert got == exp


@PROP
@given(
    toks=st.lists(st.integers(0, 40), min_size=1, max_size=40),
    seq_len=st.integers(1, 64),
    n_buckets=st.integers(1, 6),
)
def test_pack_sequences_invariants(spark, toks, seq_len, n_buckets):
    """Per bucket: offsets contiguous from 0, total stream preserved,
    pack_id consistent — for arbitrary token-count distributions."""
    from victor_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(list(enumerate(toks)), "doc_id long, n_tok int")
    rows = pack_sequences(df, "doc_id", "n_tok", seq_len, n_buckets).collect()
    assert len(rows) == len(toks)
    by_bucket = {}
    for r in rows:
        assert r["pack_id"] == r["start_off"] // seq_len
        by_bucket.setdefault(r["bucket"], []).append(r)
    total = 0
    for rs in by_bucket.values():
        rs.sort(key=lambda r: r["start_off"])
        off = 0
        for r in rs:
            assert r["start_off"] == off
            off += r["n_tok"]
        total += off
    assert total == sum(toks)


@PROP
@given(vec=st.lists(finite, min_size=4, max_size=32))
def test_cosine_self_similarity_is_one(spark, vec):
    from pyspark.sql import functions as F

    from victor_spark.functions.vector import cosine

    df = spark.createDataFrame([(vec,)], "v array<double>")
    s = df.select(cosine("v", "v").alias("s")).first()["s"]
    # norm can underflow to exactly 0 (all-zero or subnormal-only input):
    # the contract is NaN (reference's IEEE division), never a job error
    if sum(x * x for x in vec) == 0.0:
        assert math.isnan(s)
    else:
        assert s == pytest.approx(1.0, abs=1e-9)


@PROP
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=12).map(
            lambda chars: " ".join(chars)
        ),
        min_size=2, max_size=14,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
)
def test_prefix_filter_jaccard_is_lossless(spark, docs, threshold):
    """ngram_jaccard_join (ppjoin) == brute-force all-pairs Jaccard at the
    threshold — the prefix filter must never drop a qualifying pair."""
    from victor_spark.functions.hashing import shingle_hashes
    from victor_spark.operators.dedup import ngram_jaccard_join, release_shingle_caches

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in ngram_jaccard_join(df, "doc_id", "text",
                                    threshold=threshold, shingle_n=3,
                                    unit="word").collect()
    }
    release_shingle_caches()

    sets = {
        r["doc_id"]: frozenset(r["h"])
        for r in df.select(
            "doc_id", shingle_hashes("text", 3, "word").alias("h")
        ).collect()
    }
    exp = set()
    for a in sorted(sets):
        for b in sorted(sets):
            if a >= b:
                continue
            union = sets[a] | sets[b]
            if not union:
                continue
            j = len(sets[a] & sets[b]) / len(union)
            if j >= threshold:
                exp.add((a, b, round(j, 9)))
    assert got == exp


funnel_events = st.lists(
    st.tuples(
        st.integers(0, 4),                # user
        st.integers(0, 50),               # timestamp (collisions likely)
        st.sampled_from(["view", "click", "purchase", "other"]),
    ),
    min_size=1,
    max_size=60,
)


@PROP
@given(rows=funnel_events)
def test_funnel_matches_python_model(spark, rows):
    """The one-shuffle sorted-array fold == the obvious per-user Python
    scan (strict ordering, earliest-qualifying-event semantics)."""
    from victor_spark.operators.funnel import funnel_times

    steps = ["view", "click", "purchase"]
    df = spark.createDataFrame(rows, "user_id long, tus long, event_type string")
    got = {
        r["user_id"]: (r["t1"], r["t2"], r["t3"], r["stage"])
        for r in funnel_times(df, "user_id", "tus", "event_type", steps).collect()
    }

    expect = {}
    by_user: dict = {}
    for u, t, ty in rows:
        by_user.setdefault(u, []).append((t, ty))
    for u, evs in by_user.items():
        evs.sort()
        t1 = t2 = t3 = None
        for t, ty in evs:
            if t1 is None and ty == steps[0]:
                t1 = t
            elif t1 is not None and t2 is None and ty == steps[1] and t > t1:
                t2 = t
            elif t2 is not None and t3 is None and ty == steps[2] and t > t2:
                t3 = t
        stage = 3 if t3 is not None else 2 if t2 is not None else 1 if t1 is not None else 0
        expect[u] = (t1, t2, t3, stage)
    assert got == expect


@PROP
@given(
    keys=st.lists(st.integers(0, 5), min_size=1, max_size=40),
    factor=st.integers(2, 8),
)
def test_salted_join_parity_random(spark, keys, factor):
    from pyspark.sql import functions as F

    from victor_spark.operators.skew import salted_join

    big = spark.createDataFrame([(k,) for k in keys], "k long")
    small = spark.createDataFrame([(k, f"v{k}") for k in range(0, 6, 2)], "k long, val string")
    got = salted_join(big, small, "k", salt_factor=factor).groupBy("k", "val").count()
    want = big.join(small, "k").groupBy("k", "val").count()
    assert sorted(got.collect()) == sorted(want.collect())


@PROP
@given(
    docs=st.lists(
        st.text(alphabet=st.sampled_from(list("ab \\\n\r\tné")), max_size=40),
        min_size=1,
        max_size=6,
    )
)
def test_text_lines_escape_round_trip(spark, tmp_path_factory, docs):
    """write_text_lines/read_text_lines must be lossless for ANY text —
    including raw newlines, carriage returns, lone and paired backslashes,
    and literal two-char '\\n' sequences — and stay one line per doc."""
    from victor_spark.sources.formats import read_text_lines, write_text_lines

    out = str(tmp_path_factory.mktemp("textprop"))
    df = spark.createDataFrame([(d,) for d in docs], "text string")
    write_text_lines(df, out)
    assert spark.read.text(out).count() == len(docs)
    got = sorted(r["text"] for r in read_text_lines(spark, out).collect())
    assert got == sorted(docs)


words = st.lists(
    st.text(alphabet="abcdefg", min_size=1, max_size=4), min_size=0, max_size=60
)


@PROP
@given(toks=words, size=st.integers(2, 12), overlap_frac=st.integers(0, 99))
def test_chunking_invariants(spark, toks, size, overlap_frac):
    """For any token stream and any (size, overlap): concatenating the
    stride-aligned prefix of every chunk reconstructs the document, every
    chunk is at most `size` tokens, consecutive chunks share exactly
    `overlap` tokens (while both are full), and empty docs emit nothing."""
    from victor_spark.operators.chunking import chunk_tokens

    overlap = overlap_frac * (size - 1) // 99  # any 0 <= overlap < size
    stride = size - overlap
    text = " ".join(toks)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = sorted(
        (r.chunk_id, list(r.chunk_tokens))
        for r in chunk_tokens(
            df, "doc_id", "text", chunk_size=size, overlap=overlap
        ).collect()
    )
    if not toks:
        assert out == []
        return
    assert out[0][0] == 0 and [c for c, _ in out] == list(range(len(out)))
    assert all(len(ck) <= size for _, ck in out)
    # stride-prefix concatenation reconstructs the exact token stream
    rebuilt = []
    for i, (_, ck) in enumerate(out):
        rebuilt.extend(ck if i == len(out) - 1 else ck[:stride])
    # the last chunk may re-cover tokens the previous stride already
    # emitted; dropping the re-covered overlap suffix must yield the doc
    assert rebuilt[: len(toks)] == toks
    assert set(t for _, ck in out for t in ck) == set(toks)


@PROP
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 65535), st.integers(0, 65535)),
        min_size=1, max_size=30,
    )
)
def test_morton_key_roundtrips_and_orders(spark, pts):
    """The Morton key is a bijection: Python-side bit de-interleave
    recovers (x, y) exactly for any ranks, so distinct points get
    distinct keys and the key is cross-run stable."""
    from pyspark.sql import functions as F

    from victor_spark.operators.zorder import morton_key

    df = spark.createDataFrame(pts, "x long, y long")
    rows = df.select(
        "x", "y", morton_key("x", "y", bits=16).alias("z")
    ).collect()
    for r in rows:
        xs = sum(((r.z >> (2 * i)) & 1) << i for i in range(16))
        ys = sum(((r.z >> (2 * i + 1)) & 1) << i for i in range(16))
        assert (xs, ys) == (r.x, r.y)
    assert len({r.z for r in rows}) == len(set(pts))


@PROP
@given(
    xs=st.lists(st.text(alphabet="xyz0123456789-", min_size=1, max_size=8),
                min_size=0, max_size=40),
    cut=st.integers(0, 40),
)
def test_hll_merge_algebra_random(spark, xs, cut):
    """registers(A ∪ B) == merge(registers(A), registers(B)) for ANY split
    of ANY value set — the rollup algebra, property-tested."""
    from pyspark.sql import functions as F

    from victor_spark.operators.sketches import hll_merge, hll_prepare, hll_registers

    a_vals, b_vals = xs[:cut], xs[cut:]
    df = spark.createDataFrame([(x,) for x in xs] or [("_",)], "x string")
    if not xs:
        df = df.filter("x <> '_'")
    a = df.filter(F.col("x").isin(a_vals) if a_vals else F.lit(False))
    b = df.filter(~(F.col("x").isin(a_vals)) if a_vals else F.lit(True))
    whole = hll_registers(hll_prepare(df, "x"))
    merged = hll_merge(
        hll_registers(hll_prepare(a, "x")), hll_registers(hll_prepare(b, "x"))
    )
    assert sorted((r.bucket, r.r) for r in whole.collect()) == sorted(
        (r.bucket, r.r) for r in merged.collect()
    )


# -- round-5 pure codec kernels (no Spark job per example) -------------------

CODEC_PROP = settings(max_examples=80, deadline=None,
                      suppress_health_check=list(HealthCheck))


@CODEC_PROP
@given(
    w=st.integers(1, 12), h=st.integers(1, 12),
    data=st.data(),
)
def test_ppm_roundtrip_any_geometry(w, h, data):
    import numpy as np

    from victor_spark.operators import multimodal as M

    flat = data.draw(st.lists(st.integers(0, 255), min_size=w * h * 3,
                              max_size=w * h * 3))
    arr = np.array(flat, dtype=np.uint8).reshape(h, w, 3)
    w2, h2, maxval, back = M._parse_ppm(M._encode_ppm(arr))
    assert (w2, h2, maxval) == (w, h, 255)
    assert (back == arr).all()


@CODEC_PROP
@given(
    samples=st.lists(st.integers(-32768, 32767), min_size=0, max_size=200),
    rate=st.integers(1, 384_000),
)
def test_wav_roundtrip_any_samples(samples, rate):
    import numpy as np

    from victor_spark.operators import multimodal as M

    got_rate, got = M._parse_wav(M._encode_wav(samples, rate))
    assert got_rate == rate
    assert (got == np.array(samples, dtype=np.int16)).all()


@CODEC_PROP
@given(
    w=st.integers(1, 10), h=st.integers(1, 10),
    factor=st.integers(1, 4), data=st.data(),
)
def test_dhash_invariant_under_nearest_neighbor_upscale(w, h, factor, data):
    """dHash(upscale(img, f)) == dHash(img) for ANY geometry and integer
    factor — the floor((floor(f*x))/f) = floor(x) identity, generatively."""
    import numpy as np

    from victor_spark.operators import multimodal as M

    flat = data.draw(st.lists(st.integers(0, 255), min_size=w * h * 3,
                              max_size=w * h * 3))
    arr = np.array(flat, dtype=np.uint8).reshape(h, w, 3)
    up = M._resize_image(M._encode_ppm(arr), w * factor, h * factor)
    _, _, _, big = M._parse_ppm(up)
    assert M._dhash_bits(big) == M._dhash_bits(arr)


@CODEC_PROP
@given(
    samples=st.lists(st.integers(-32768, 32767), min_size=1, max_size=150),
    factor=st.integers(1, 5),
)
def test_audio_fingerprint_invariant_under_zoh_resample(samples, factor):
    import numpy as np

    from victor_spark.operators import multimodal as M

    s = np.array(samples, dtype=np.int16)
    assert M._audio_fp_bits(np.repeat(s, factor)) == M._audio_fp_bits(s)


@CODEC_PROP
@given(p=st.from_regex(r"/[a-z0-9]{1,8}(/[a-z0-9]{1,8}){0,3}", fullmatch=True))
def test_canon_path_idempotent_and_alias_stable(p):
    from victor_spark.index import _canon_path

    c = _canon_path(p)
    assert _canon_path(c) == c                      # idempotent
    assert _canon_path(p + "/") == c                # trailing slash
    assert _canon_path(p.replace("/", "//", 1)) == c  # duplicate slashes
    assert _canon_path("file:" + p) == c            # bare file scheme
    assert _canon_path("file://localhost" + p) == c  # localhost authority


@CODEC_PROP
@given(
    w=st.integers(1, 8), h=st.integers(1, 8),
    chroma=st.sampled_from(["420", "422", "444", "mono"]),
    n_frames=st.integers(0, 5), data=st.data(),
)
def test_y4m_roundtrip_any_geometry_chroma(w, h, chroma, n_frames, data):
    from victor_spark.operators import multimodal as M

    # C420 needs even luma-plane byte counts to stay integral
    if chroma == "420" and (w * h) % 2:
        h *= 2
    size = int(w * h * (1 + M._Y4M_CHROMA_FACTOR[chroma]))
    frames = [
        bytes(data.draw(st.lists(st.integers(0, 255), min_size=size,
                                 max_size=size)))
        for _ in range(n_frames)
    ]
    w2, h2, c2, back = M._parse_y4m(M._encode_y4m(frames, w, h, chroma))
    assert (w2, h2, c2) == (w, h, chroma)
    assert back == frames


@CODEC_PROP
@given(
    w=st.integers(1, 12), h=st.integers(1, 12),
    filter_type=st.sampled_from([0, 1, 2, 3, 4, "cycle"]),
    data=st.data(),
)
def test_png_roundtrip_any_geometry_and_filter(w, h, filter_type, data):
    """encode→decode is the identity for ANY geometry under EVERY
    scanline filter (None/Sub/Up/Average/Paeth and the per-row cycle) —
    the compressed-format analog of the PPM roundtrip property. A match
    proves the full pipeline: filtering, deflate, chunk CRCs, inflate,
    unfiltering."""
    import numpy as np

    from victor_spark.operators import multimodal as M

    flat = data.draw(st.lists(st.integers(0, 255), min_size=w * h * 3,
                              max_size=w * h * 3))
    arr = np.array(flat, dtype=np.uint8).reshape(h, w, 3)
    png = M._encode_png(arr, filter_type=filter_type)
    w2, h2, back = M._parse_png(png)
    assert (w2, h2) == (w, h)
    assert (back == arr).all()


@CODEC_PROP
@given(
    w=st.integers(1, 10), h=st.integers(1, 10),
    factor=st.integers(1, 4), data=st.data(),
)
def test_dhash_invariant_under_png_upscale(w, h, factor, data):
    """The perceptual-dedup invariance holds through the COMPRESSED
    container too: dHash(decode(resize(png, f))) == dHash(pixels)."""
    import numpy as np

    from victor_spark.operators import multimodal as M

    flat = data.draw(st.lists(st.integers(0, 255), min_size=w * h * 3,
                              max_size=w * h * 3))
    arr = np.array(flat, dtype=np.uint8).reshape(h, w, 3)
    up = M._resize_image(M._encode_png(arr, "cycle"), w * factor, h * factor)
    _, _, big = M._parse_png(up)
    assert M._dhash_bits(big) == M._dhash_bits(arr)


@CODEC_PROP
@given(data=st.data())
def test_png_corruption_raises_valueerror(data):
    """Any single-byte corruption of a valid PNG either still decodes to
    the SAME pixels (bytes the checks don't cover don't exist: every
    chunk is CRC'd) or raises ValueError — never a non-ValueError crash
    and never silently wrong pixels (the quarantine contract)."""
    import numpy as np

    from victor_spark.operators import multimodal as M

    arr = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    png = bytearray(M._encode_png(arr, "cycle"))
    i = data.draw(st.integers(0, len(png) - 1))
    delta = data.draw(st.integers(1, 255))
    png[i] = (png[i] + delta) % 256
    try:
        w2, h2, back = M._parse_png(bytes(png))
    except ValueError:
        return
    assert (w2, h2) == (4, 4) and (back == arr).all()


@CODEC_PROP
@given(
    lr=st.lists(st.integers(-32768, 32767), min_size=0, max_size=120),
    rate=st.integers(1, 384_000),
)
def test_wav_stereo_downmix_is_floor_mean(lr, rate):
    """Stereo PCM16 decodes to floor((l+r)/2) per frame (the odd
    trailing value of an unpaired stream is dropped, mirroring a
    truncated final frame)."""
    import numpy as np

    from victor_spark.operators import multimodal as M

    got_rate, got = M._parse_wav(M._encode_wav(lr, rate, channels=2))
    assert got_rate == rate
    frames = len(lr) // 2
    expect = [(lr[2 * k] + lr[2 * k + 1]) // 2 for k in range(frames)]
    assert list(got) == expect
    assert got.dtype == np.int16


@CODEC_PROP
@given(data=st.lists(st.integers(0, 255), min_size=0, max_size=120))
def test_wav_mulaw_matches_reference_expansion(data):
    """The μ-law path matches an independently-written G.711 expansion
    for every byte value, and PCM8 recenters/rescales exactly."""
    from victor_spark.operators import multimodal as M

    def ref_mulaw(b):  # independent formulation, straight from G.711
        b = b ^ 0xFF
        sign = -1 if b & 0x80 else 1
        exponent = (b >> 4) & 0x07
        mantissa = b & 0x0F
        magnitude = ((2 * mantissa + 33) << exponent) - 33
        return sign * magnitude * 4  # table is in units of 4

    _, got = M._parse_wav(M._encode_wav(data, 8000, bits=8, audio_format=7))
    assert list(got) == [ref_mulaw(b) for b in data]

    _, got8 = M._parse_wav(M._encode_wav(data, 8000, bits=8))
    assert list(got8) == [(b - 128) * 256 for b in data]


@CODEC_PROP
@given(
    w=st.integers(1, 10), h=st.integers(1, 10),
    n_frames=st.integers(1, 4), data=st.data(),
)
def test_gif_roundtrip_any_geometry_and_frames(w, h, n_frames, data):
    """encode→decode is the identity (through the palette) for ANY
    geometry and frame count — real LZW with dictionary growth, not a
    degenerate clear-per-symbol stream."""
    import numpy as np

    from victor_spark.operators import multimodal as M

    frames = [
        np.array(
            data.draw(st.lists(st.integers(0, 255), min_size=w * h,
                               max_size=w * h)),
            dtype=np.uint8,
        ).reshape(h, w)
        for _ in range(n_frames)
    ]
    gif = M._encode_gif(frames, w, h)
    w2, h2, back = M._parse_gif(gif)
    i = np.arange(256, dtype=np.int64)
    pal = np.stack([i, (2 * i) % 256, (7 * i) % 256], 1).astype(np.uint8)
    assert (w2, h2) == (w, h) and len(back) == n_frames
    for f, b in zip(frames, back):
        assert np.array_equal(b, pal[f])


@CODEC_PROP
@given(data=st.binary(min_size=0, max_size=30000),
       min_code=st.integers(2, 8))
def test_lzw_roundtrip_arbitrary_bytes(data, min_code):
    """The LZW layer alone roundtrips arbitrary byte strings at every
    legal minimum code size — long inputs push the code width through
    9→12 bits and across the 4096-entry dictionary reset."""
    from victor_spark.operators import multimodal as M

    if min_code < 8:  # symbols must fit the initial code space
        data = bytes(b % (1 << min_code) for b in data)
    assert M._lzw_decode(M._lzw_encode(data, min_code), min_code) == data


@CODEC_PROP
@given(
    w=st.integers(1, 20), h=st.integers(1, 20),
    quality=st.sampled_from([70, 90, 95, 100]),
    color=st.tuples(st.integers(0, 255), st.integers(0, 255),
                    st.integers(0, 255)),
)
def test_jpeg_solid_blocks_decode_near_exactly(w, h, quality, color):
    """JPEG is lossy, but a solid image is DC-only: the full
    DCT→quantize→Huffman→inverse pipeline must reproduce it within the
    color-transform rounding (≤2 levels) for ANY geometry (including
    non-multiple-of-8 edges, which exercise the padding/crop path)."""
    import numpy as np

    from victor_spark.operators.jpeg_codec import decode_jpeg, encode_jpeg

    arr = np.zeros((h, w, 3), np.uint8)
    arr[:] = color
    w2, h2, back = decode_jpeg(encode_jpeg(arr, quality))
    assert (w2, h2) == (w, h)
    assert int(np.abs(back.astype(int) - arr.astype(int)).max()) <= 2


@CODEC_PROP
@given(
    w=st.integers(1, 24), h=st.integers(1, 24),
    base=st.integers(30, 150), data=st.data(),
)
def test_jpeg_smooth_gradients_bounded_error(w, h, base, data):
    """Smooth content (the synthesize_jpeg shape: per-channel vertical
    gradients) stays within a small tolerance at q90, and grayscale
    input takes the 1-component path."""
    import numpy as np

    from victor_spark.operators.jpeg_codec import decode_jpeg, encode_jpeg

    bases = [base, data.draw(st.integers(30, 150)),
             data.draw(st.integers(30, 150))]
    y = 2 * np.arange(h)[:, None, None]
    arr = np.clip(np.array(bases)[None, None, :] + y, 0, 255).astype(np.uint8)
    arr = np.ascontiguousarray(np.broadcast_to(arr, (h, w, 3)))
    _w, _h, back = decode_jpeg(encode_jpeg(arr, 90))
    # the correctly-ordered quantizer gives <=3 on this content; 6 is
    # margin (the round-6 review caught a zigzag/natural table mixup
    # that measured ~12 here — keep the bound tight enough to refuse it)
    assert int(np.abs(back.astype(int) - arr.astype(int)).max()) <= 6

    gray = arr[..., 0]
    _w, _h, gback = decode_jpeg(encode_jpeg(gray, 95))
    assert gback.shape == (h, w, 3)
    assert int(np.abs(gback[..., 0].astype(int) - gray.astype(int)).max()) <= 6


@CODEC_PROP
@given(data=st.data())
def test_jpeg_corruption_never_escapes_valueerror(data):
    """Any single-byte corruption of a valid JPEG either still decodes
    (entropy bits are not integrity-checked — that's the format) or
    raises ValueError; never struct.error/IndexError or a crash."""
    import numpy as np

    from victor_spark.operators.jpeg_codec import decode_jpeg, encode_jpeg

    arr = np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3)
    payload = bytearray(encode_jpeg(arr, 90))
    i = data.draw(st.integers(0, len(payload) - 1))
    delta = data.draw(st.integers(1, 255))
    payload[i] = (payload[i] + delta) % 256
    try:
        w, h, back = decode_jpeg(bytes(payload))
    except ValueError:
        return
    assert back.shape[2] == 3  # decoded to SOMETHING pixel-shaped


@CODEC_PROP
@given(
    samples=st.lists(st.integers(-32768, 32767), min_size=0, max_size=400),
    rate=st.integers(1, 655350),
    block_size=st.sampled_from([16, 64, 4096]),
)
def test_flac_roundtrip_any_samples(samples, rate, block_size):
    """encode→decode is the IDENTITY for arbitrary int16 clips across
    block sizes (multi-frame streams included) — the compressed-audio
    twin of the WAV roundtrip property; rice coding, fixed predictors,
    CRCs and the subframe chooser all sit on this path."""
    from victor_spark.operators.flac_codec import decode_flac, encode_flac

    got_rate, got = decode_flac(encode_flac(samples, rate, block_size))
    assert got_rate == rate and got == list(samples)


@CODEC_PROP
@given(data=st.data())
def test_flac_corruption_raises_valueerror(data):
    """Any single-byte corruption of a valid FLAC stream raises
    ValueError (every FRAME is CRC-8 + CRC-16 protected) or yields
    sample VALUES that are still correct — never silently wrong audio,
    never a non-ValueError crash. STREAMINFO itself carries no CRC (the
    format protects it only via the optional audio-md5 field, which
    this subset leaves zeroed), so a corrupted total-samples count may
    legally TRUNCATE the clip; the surviving prefix must still be
    bit-exact."""
    from victor_spark.operators.flac_codec import decode_flac, encode_flac

    samples = [((j * 37) % 200 - 100) * 64 for j in range(120)]
    enc = bytearray(encode_flac(samples, 8000))
    i = data.draw(st.integers(0, len(enc) - 1))
    delta = data.draw(st.integers(1, 255))
    enc[i] = (enc[i] + delta) % 256
    try:
        _rate, got = decode_flac(bytes(enc))
    except ValueError:
        return
    assert got == samples[: len(got)]  # values never silently wrong


@CODEC_PROP
@given(
    samples=st.lists(st.integers(-32768, 32767), min_size=0, max_size=300),
    lpc_order=st.integers(1, 16),
    block_size=st.sampled_from([32, 64, 4096]),
)
def test_flac_lpc_roundtrip_any_samples(samples, lpc_order, block_size):
    """LPC subframes (the type real flac encoders emit almost always)
    are equally lossless: encode with forced Levinson-Durbin LPC →
    decode is the identity for arbitrary clips, orders and block sizes
    (degenerate blocks fall back to FIXED/CONSTANT internally)."""
    from victor_spark.operators.flac_codec import decode_flac, encode_flac

    enc = encode_flac(samples, 8000, block_size, lpc_order=lpc_order)
    got_rate, got = decode_flac(enc)
    assert got_rate == 8000 and got == list(samples)


@CODEC_PROP
@given(
    half=st.lists(st.integers(-32768, 32767), min_size=0, max_size=150),
    mode=st.sampled_from(
        ["independent", "left_side", "right_side", "mid_side"]
    ),
    lpc_order=st.sampled_from([None, 4]),
    data=st.data(),
)
def test_flac_stereo_roundtrip_all_assignments(half, mode, lpc_order, data):
    """Stereo streams under every channel assignment (independent and
    all three side-coded forms, whose side channel carries bps+1 bits)
    decode to exactly the (l+r)//2 downmix of the source — the same
    lake normalization as the WAV parser, so a WAV original and its
    FLAC stereo clone fingerprint identically."""
    from victor_spark.operators.flac_codec import decode_flac, encode_flac

    right = [
        data.draw(st.integers(-32768, 32767)) for _ in range(len(half))
    ]
    inter: list[int] = []
    for l, r in zip(half, right):
        inter += [l, r]
    enc = encode_flac(
        inter, 16000, channels=2, stereo_mode=mode, lpc_order=lpc_order
    )
    got_rate, got = decode_flac(enc)
    assert got_rate == 16000
    assert got == [(l + r) // 2 for l, r in zip(half, right)]


@CODEC_PROP
@given(
    w=st.integers(1, 24), h=st.integers(1, 24),
    color=st.tuples(st.integers(0, 255), st.integers(0, 255),
                    st.integers(0, 255)),
)
def test_jpeg_420_solid_blocks_decode_near_exactly(w, h, color):
    """4:2:0 on a solid image is still DC-only in all three (subsampled)
    planes: the 16x16-MCU encode path and the general-sampling decode
    path must reproduce it within color-transform rounding for any
    geometry, including non-multiple-of-16 edges."""
    import numpy as np

    from victor_spark.operators.jpeg_codec import decode_jpeg, encode_jpeg

    arr = np.zeros((h, w, 3), np.uint8)
    arr[:] = color
    w2, h2, back = decode_jpeg(encode_jpeg(arr, 90, subsampling="420"))
    assert (w2, h2) == (w, h)
    assert int(np.abs(back.astype(int) - arr.astype(int)).max()) <= 2


@CODEC_PROP
@given(
    w=st.integers(1, 32), h=st.integers(1, 32),
    base=st.integers(30, 150), data=st.data(),
)
def test_jpeg_420_smooth_gradients_bounded_error(w, h, base, data):
    """Smooth gradients survive 4:2:0 within the chroma-subsampling
    bound: luma is full-resolution (tight), chroma varies by ~2/row so
    2x2 averaging + nearest upsampling adds a few levels over the 4:4:4
    bound. A swapped/misordered MCU block layout measures far outside
    this (whole 8x8 blocks land in the wrong place)."""
    import numpy as np

    from victor_spark.operators.jpeg_codec import decode_jpeg, encode_jpeg

    bases = [base, data.draw(st.integers(30, 150)),
             data.draw(st.integers(30, 150))]
    y = 2 * np.arange(h)[:, None, None]
    arr = np.clip(np.array(bases)[None, None, :] + y, 0, 255).astype(np.uint8)
    arr = np.ascontiguousarray(np.broadcast_to(arr, (h, w, 3)))
    _w, _h, back = decode_jpeg(encode_jpeg(arr, 90, subsampling="420"))
    assert int(np.abs(back.astype(int) - arr.astype(int)).max()) <= 14


@CODEC_PROP
@given(
    w=st.integers(1, 40), h=st.integers(1, 40),
    ri=st.sampled_from([1, 2, 5]),
    sub=st.sampled_from(["444", "420", "422", "440", "411"]),
    base=st.integers(30, 150),
)
def test_jpeg_restart_markers_roundtrip(w, h, ri, sub, base):
    """DRI/RSTn restart markers (what real encoders emit for error
    resilience): byte-aligned markers every ri MCUs with DC-prediction
    reset must decode identically to the marker-free stream under both
    sampling layouts — a misplaced reset or unaligned marker corrupts
    every MCU after the first restart."""
    import numpy as np

    from victor_spark.operators.jpeg_codec import decode_jpeg, encode_jpeg

    y = 2 * np.arange(h)[:, None, None]
    arr = np.clip(base + y, 0, 255).astype(np.uint8)
    arr = np.ascontiguousarray(np.broadcast_to(arr, (h, w, 3)))
    enc = encode_jpeg(arr, 90, subsampling=sub, restart_interval=ri)
    assert b"\xff\xdd" in enc
    _w, _h, back = decode_jpeg(enc)
    plain = decode_jpeg(encode_jpeg(arr, 90, subsampling=sub))[2]
    assert np.array_equal(back, plain)  # markers are transparent


@CODEC_PROP
@given(
    w=st.integers(1, 48), h=st.integers(1, 48),
    seed=st.integers(0, 2**32 - 1),
    smooth=st.booleans(),
)
def test_png_adaptive_filtering_is_lossless_and_helps(w, h, seed, smooth):
    """'adaptive' filter selection (the libpng minimum-sum-of-absolute-
    residuals heuristic) must stay a LOSSLESS bit-exact roundtrip for
    any content, and on smooth gradients must never produce a larger
    stream than unfiltered encoding (it may pick filter 0 everywhere,
    so <= is the contract; in practice gradients shrink 60-80%)."""
    import numpy as np

    from victor_spark.operators.multimodal import _encode_png, _parse_png

    rng = np.random.default_rng(seed)
    if smooth:
        yy = np.arange(h)[:, None, None] * 2
        xx = np.arange(w)[None, :, None]
        arr = np.clip(int(rng.integers(0, 100)) + yy + xx, 0, 255)
        arr = np.ascontiguousarray(
            np.broadcast_to(arr, (h, w, 3)).astype(np.uint8)
        )
    else:
        arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    enc = _encode_png(arr, filter_type="adaptive")
    w2, h2, back = _parse_png(enc)
    assert (w2, h2) == (w, h) and np.array_equal(back, arr)
    if smooth:
        assert len(enc) <= len(_encode_png(arr, 0))


@CODEC_PROP
@given(
    w=st.integers(1, 40), h=st.integers(1, 40),
    seed=st.integers(0, 2**32 - 1),
    fmt=st.sampled_from([
        "P1", "P2", "P3", "P4", "P5", "P6",
        "bmp", "ras", "ras_rle", "sgi", "sgi_rle", "tiff",
        "tiff_packbits", "xbm", "ico",
    ]),
)
def test_raster_codecs_roundtrip_bit_exact(w, h, seed, fmt):
    """Every simple-raster container is LOSSLESS: encode→decode
    through the shared _parse_image dispatch is the identity for
    arbitrary content (RGB formats bit-exact; gray formats on the gray
    plane; bitmap formats on the thresholded plane), including both
    RLE paths and PackBits."""
    import numpy as np

    from victor_spark.operators import raster_codecs as rc
    from victor_spark.operators.multimodal import _parse_image

    rng = np.random.default_rng(seed)
    rgb = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    gray = rng.integers(0, 256, (h, w), dtype=np.uint8)
    if fmt in ("P1", "P2", "P3", "P4", "P5", "P6"):
        src = rgb if fmt in ("P3", "P6") else gray
        enc = rc.encode_pnm(src, fmt)
    elif fmt == "bmp":
        enc = rc.encode_bmp(rgb)
    elif fmt.startswith("ras"):
        enc = rc.encode_ras(rgb, rle=fmt.endswith("rle"))
    elif fmt.startswith("sgi"):
        enc = rc.encode_sgi(rgb, rle=fmt.endswith("rle"))
    elif fmt.startswith("tiff"):
        enc = rc.encode_tiff(rgb, packbits=fmt.endswith("packbits"))
    elif fmt == "ico":
        enc = rc.encode_ico(rgb)
    else:
        enc = rc.encode_xbm(gray)
    w2, h2, back = _parse_image(enc)
    assert (w2, h2) == (w, h)
    if fmt in ("P1", "P4", "xbm"):
        assert np.array_equal(back[..., 0] == 0, gray < 128)
    elif fmt in ("P2", "P5"):
        assert np.array_equal(back[..., 0], gray)
        assert np.array_equal(back[..., 0], back[..., 2])
    else:
        assert np.array_equal(back, rgb)


@CODEC_PROP
@given(
    n=st.integers(0, 400),
    rate=st.sampled_from([8000, 11025, 44100, 48000]),
    stereo=st.booleans(),
    container=st.sampled_from(["aiff", "au"]),
    seed=st.integers(0, 2**32 - 1),
)
def test_aiff_au_roundtrip(n, rate, stereo, container, seed):
    """PCM16 encode→decode through AIFF (big-endian SSND + 80-bit
    float rate) and Sun AU is the identity for mono, and the WAV-
    matching (l+r)//2 floor downmix for stereo — the cross-container
    normalization every audio fingerprint depends on."""
    import numpy as np

    from victor_spark.operators.multimodal import (
        _encode_aiff,
        _encode_au,
        _parse_audio,
    )

    rng = np.random.default_rng(seed)
    ch = 2 if stereo else 1
    s = rng.integers(-32768, 32768, n * ch).astype(np.int16)
    enc = (_encode_aiff if container == "aiff" else _encode_au)(
        rate, s, channels=ch
    )
    got_rate, got = _parse_audio(enc)
    assert got_rate == rate
    if stereo:
        exp = (s[0::2].astype(np.int32) + s[1::2].astype(np.int32)) // 2
        assert np.array_equal(got.astype(np.int32), exp)
    else:
        assert np.array_equal(got, s)


def test_aifc_twos_and_ssnd_padding():
    """Review pins: AIFC's explicit big-endian PCM id 'twos' must
    decode like NONE (QuickTime writes it), and SSND blockSize-
    alignment padding must NOT become bogus samples — COMM's
    numSampleFrames bounds the data (the cross-container fingerprint
    consistency depends on it)."""
    import struct

    import numpy as np

    from victor_spark.operators.multimodal import _encode_aiff, _parse_aiff

    s16 = (np.arange(100) * 131 % 65536 - 32768).astype(np.int16)
    enc = bytearray(_encode_aiff(8000, s16))
    i = bytes(enc).index(b"COMM")
    comm_len = struct.unpack(">I", enc[i + 4 : i + 8])[0]
    new_comm = enc[i + 8 : i + 8 + comm_len] + b"twos" + b"\x00"
    pad = b"\x00" if len(new_comm) % 2 else b""
    twos = (
        enc[:8] + b"AIFC" + enc[12 : i + 4]
        + struct.pack(">I", len(new_comm)) + new_comm + pad
        + enc[i + 8 + comm_len :]
    )
    twos = twos[:4] + struct.pack(">I", len(twos) - 8) + twos[8:]
    rate, back = _parse_aiff(bytes(twos))
    assert rate == 8000 and np.array_equal(back, s16)

    j = bytes(enc).index(b"SSND")
    ss_len = struct.unpack(">I", enc[j + 4 : j + 8])[0]
    padded = (
        enc[: j + 4] + struct.pack(">I", ss_len + 56)
        + enc[j + 8 : j + 8 + ss_len] + b"\x00" * 56
        + enc[j + 8 + ss_len :]
    )
    padded = padded[:4] + struct.pack(">I", len(padded) - 8) + padded[8:]
    rate, back = _parse_aiff(bytes(padded))
    assert len(back) == 100 and np.array_equal(back, s16)


@CODEC_PROP
@given(data=st.data())
def test_aiff_au_corruption_never_escapes_valueerror(data):
    """Single-byte corruption of an AIFF or AU stream either still
    decodes (raw PCM carries no integrity check) or raises ValueError;
    the IFF chunk walk, 80-bit float parse and AU header validation
    must never crash or loop."""
    import numpy as np

    from victor_spark.operators.multimodal import (
        _encode_aiff,
        _encode_au,
        _parse_audio,
    )

    s = (np.arange(300) * 37 % 65536 - 32768).astype(np.int16)
    enc = bytearray(
        _encode_aiff(11025, s) if data.draw(st.booleans())
        else _encode_au(11025, s)
    )
    i = data.draw(st.integers(0, len(enc) - 1))
    enc[i] = (enc[i] + data.draw(st.integers(1, 255))) % 256
    try:
        rate, got = _parse_audio(bytes(enc))
    except ValueError:
        return
    assert got.dtype == np.int16


@CODEC_PROP
@given(data=st.data())
def test_raster_codec_corruption_never_escapes_valueerror(data):
    """Single-byte corruption of any simple-raster stream either still
    decodes (verbatim rasters carry no integrity check — a flipped
    pixel byte is a legal image) or raises ValueError; never
    struct.error/IndexError or a crash. RLE/PackBits length
    bookkeeping and the TIFF tag walk must never loop or overrun."""
    import numpy as np

    from victor_spark.operators import raster_codecs as rc
    from victor_spark.operators.multimodal import _parse_image

    rgb = (np.arange(9 * 11 * 3, dtype=np.uint32) % 256).astype(
        np.uint8
    ).reshape(9, 11, 3)
    fmt = data.draw(st.sampled_from(
        ["P4", "P5", "P6", "bmp", "ras_rle", "sgi_rle", "tiff_packbits",
         "ico"]
    ))
    if fmt in ("P4", "P5"):
        enc = rc.encode_pnm(rgb[..., 0], fmt)
    elif fmt == "P6":
        enc = rc.encode_pnm(rgb, fmt)
    elif fmt == "bmp":
        enc = rc.encode_bmp(rgb)
    elif fmt == "ras_rle":
        enc = rc.encode_ras(rgb, rle=True)
    elif fmt == "sgi_rle":
        enc = rc.encode_sgi(rgb, rle=True)
    elif fmt == "ico":
        enc = rc.encode_ico(rgb)
    else:
        enc = rc.encode_tiff(rgb, packbits=True)
    payload = bytearray(enc)
    i = data.draw(st.integers(0, len(payload) - 1))
    payload[i] = (payload[i] + data.draw(st.integers(1, 255))) % 256
    try:
        w, h, back = _parse_image(bytes(payload))
    except ValueError:
        return
    assert back.shape[2] == 3


# scan scripts the progressive property sweeps: None = the libjpeg-style
# default (successive approximation), sep-dc = spectral-selection-only
# with per-component NON-INTERLEAVED DC scans (the component-grid-vs-
# MCU-grid distinction at 4:2:0), deep = refinement from Al=3 down
_PROG_SEP_DC = [
    ((0,), 0, 0, 0, 0), ((1,), 0, 0, 0, 0), ((2,), 0, 0, 0, 0),
    ((0,), 1, 63, 0, 0), ((1,), 1, 63, 0, 0), ((2,), 1, 63, 0, 0),
]
_PROG_DEEP = [
    ((0, 1, 2), 0, 0, 0, 3),
    ((0,), 1, 63, 0, 3), ((1,), 1, 63, 0, 3), ((2,), 1, 63, 0, 3),
    ((0,), 1, 63, 3, 2), ((1,), 1, 63, 3, 2), ((2,), 1, 63, 3, 2),
    ((0, 1, 2), 0, 0, 3, 2),
    ((0,), 1, 63, 2, 1), ((1,), 1, 63, 2, 1), ((2,), 1, 63, 2, 1),
    ((0, 1, 2), 0, 0, 2, 1),
    ((0,), 1, 63, 1, 0), ((1,), 1, 63, 1, 0), ((2,), 1, 63, 1, 0),
    ((0, 1, 2), 0, 0, 1, 0),
]


@CODEC_PROP
@given(
    w=st.integers(1, 40), h=st.integers(1, 40),
    sub=st.sampled_from(["444", "420", "422", "440", "411"]),
    quality=st.integers(30, 95),
    script=st.sampled_from([None, "sep_dc", "deep"]),
    ri=st.sampled_from([0, 0, 3]),
    seed=st.integers(0, 2**32 - 1),
)
def test_jpeg_progressive_decodes_equal_to_baseline(
    w, h, sub, quality, script, ri, seed
):
    """Progressive transmission is a lossless REORDERING of the same
    quantized coefficients, so decode(progressive) must equal
    decode(baseline) BIT-EXACTLY for any content, geometry,
    subsampling, quality, scan script (spectral-selection-only,
    successive approximation from Al=3, non-interleaved DC) and
    restart interval — the strongest possible oracle for every
    Annex-G code path on both sides of the codec."""
    import numpy as np

    from victor_spark.operators.jpeg_codec import decode_jpeg, encode_jpeg

    arr = np.random.default_rng(seed).integers(
        0, 256, (h, w, 3), dtype=np.uint8
    )
    scans = {"sep_dc": _PROG_SEP_DC, "deep": _PROG_DEEP, None: None}[script]
    base = decode_jpeg(encode_jpeg(arr, quality, subsampling=sub))[2]
    prog = decode_jpeg(
        encode_jpeg(
            arr, quality, subsampling=sub, progressive=True,
            scan_script=scans, restart_interval=ri,
        )
    )[2]
    assert np.array_equal(base, prog)


@CODEC_PROP
@given(
    w=st.integers(1, 40), h=st.integers(1, 40),
    sub=st.sampled_from(["444", "420", "422", "440", "411"]),
    prog=st.booleans(),
    quality=st.integers(30, 100),
    seed=st.integers(0, 2**32 - 1),
)
def test_jpeg_optimized_huffman_is_transparent_and_smaller(
    w, h, sub, prog, quality, seed
):
    """2-pass optimized Huffman tables (T.81 K.2) are a pure
    entropy-layer change: the decode must be BIT-IDENTICAL to the
    default-table stream for any content/geometry/subsampling in both
    baseline and progressive modes, and the payload must not grow
    beyond the few bytes of DHT-layout difference (frequency-optimal
    codes can't lose to fixed tables on the entropy segment itself)."""
    import numpy as np

    from victor_spark.operators.jpeg_codec import decode_jpeg, encode_jpeg

    arr = np.random.default_rng(seed).integers(
        0, 256, (h, w, 3), dtype=np.uint8
    )
    plain = encode_jpeg(arr, quality, subsampling=sub, progressive=prog)
    opt = encode_jpeg(
        arr, quality, subsampling=sub, progressive=prog,
        optimize_huffman=True,
    )
    assert np.array_equal(decode_jpeg(plain)[2], decode_jpeg(opt)[2])
    # DHT for optimal tables can be marginally larger on tiny images
    # (it lists only used symbols, but 4 tables' 16-byte bits arrays
    # are fixed); the entropy segment itself never loses
    assert len(opt) <= len(plain) + 64


@CODEC_PROP
@given(
    counts=st.dictionaries(
        st.integers(0, 255),
        st.integers(1, 1 << 30),
        min_size=0, max_size=200,
    ),
)
def test_jpeg_optimal_table_invariants(counts):
    """_optimal_table must emit a LEGAL DHT for any frequency profile:
    canonical structure (sum(bits) == len(vals)), every length <= 16,
    the Kraft sum strictly below 1 (the spec's reserved all-1s codeword
    stays unused), every counted symbol present exactly once, and the
    resulting canonical code prefix-free — adversarial skews
    (2^30-range frequencies force the >16-bit fold-down)."""
    from victor_spark.operators.jpeg_codec import _build_codes, _optimal_table

    bits, vals = _optimal_table(counts, 256)
    assert len(bits) == 16 and sum(bits) == len(vals)
    assert sorted(vals) == sorted(counts)  # exactly the used symbols
    kraft = sum(n * 2.0 ** -(i + 1) for i, n in enumerate(bits))
    assert kraft < 1.0 or (len(vals) == 1 and kraft == 0.5)
    codes = _build_codes(bits, vals)
    assert len(codes) == len(vals)
    as_bits = {
        format(code, f"0{ln}b") for code, ln in codes.values()
    }
    assert len(as_bits) == len(vals)
    for a in as_bits:  # prefix-freedom
        for b in as_bits:
            assert a == b or not b.startswith(a)
    assert "1" * 16 not in as_bits  # and no all-1s code at any length
    for a in as_bits:
        assert a != "1" * len(a)


def test_jpeg_optimized_huffman_length_limit_folds():
    """High-entropy content at quality 100 drives the widest symbol
    alphabets (the fold-down of >16-bit code lengths, Figure K.10);
    the emitted tables must stay legal (every DHT length <= 16, the
    all-1s codeword unused — our decoder rejects over-long codes) and
    the decode bit-identical."""
    import numpy as np

    from victor_spark.operators.jpeg_codec import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(123)
    arr = rng.integers(0, 256, (96, 96, 3), dtype=np.uint8)
    for prog in (False, True):
        plain = encode_jpeg(arr, 100, progressive=prog)
        opt = encode_jpeg(arr, 100, progressive=prog, optimize_huffman=True)
        assert np.array_equal(decode_jpeg(plain)[2], decode_jpeg(opt)[2])
        assert len(opt) < len(plain)


def test_jpeg_progressive_rejects_illegal_scan_scripts():
    """Spec-illegal scan scripts must fail AT ENCODE TIME (T.81 G.1) —
    silent acceptance would persist undecodable payloads into a media
    lake with no error at write time (review finding)."""
    import numpy as np
    import pytest as _pytest

    from victor_spark.operators.jpeg_codec import encode_jpeg

    arr = np.zeros((8, 8, 3), dtype=np.uint8)
    bad = [
        [((0, 1, 2), 1, 63, 0, 0)],  # multi-component AC scan
        [((0,), 0, 5, 0, 0)],  # DC scan with Se != 0
        [((0,), 9, 5, 0, 0)],  # inverted band
        [((0,), 1, 64, 0, 0)],  # band past 63
        [((0, 1, 2, 3), 0, 0, 0, 0)],  # missing component
        [((0, 0), 0, 0, 0, 0)],  # duplicate component
        [((0,), 1, 63, 2, 0)],  # Ah must be Al+1 on refinement
        [((0,), 1, 63, 0, 14)],  # Al out of range
        [((0,), -1, 5, 0, 0)],  # negative Ss must fail HERE, not at
        # SOS byte packing (review finding)
        # cross-scan progression rules (T.81 G.1.1.1.1, review finding):
        [((0,), 1, 63, 0, 0), ((1,), 1, 63, 0, 0),
         ((2,), 1, 63, 0, 0)],  # AC-only script, no DC scan ever
        [((0, 1, 2), 0, 0, 1, 0)],  # refinement as the first scan
        [((0, 1, 2), 0, 0, 0, 0),
         ((0,), 1, 63, 0, 1),
         ((0,), 1, 20, 0, 0)],  # band 1..20 first-transmitted twice
        [((0, 1, 2), 0, 0, 0, 2),
         ((0, 1, 2), 0, 0, 1, 0)],  # DC refinement skips a bit plane
        [((0, 1), 0, 0, 0, 0),
         ((0,), 1, 63, 0, 0), ((1,), 1, 63, 0, 0)],  # comp 2 never coded
    ]
    for script in bad:
        with _pytest.raises(ValueError, match="scan script"):
            encode_jpeg(arr, 90, progressive=True, scan_script=script)


@CODEC_PROP
@given(data=st.data())
def test_jpeg_progressive_corruption_never_escapes_valueerror(data):
    """Single-byte corruption of a progressive stream either still
    decodes (entropy bits carry no integrity check) or raises
    ValueError — the multi-scan walk, EOB-run bookkeeping and
    refinement bit reads must never crash or loop."""
    import numpy as np

    from victor_spark.operators.jpeg_codec import decode_jpeg, encode_jpeg

    arr = np.arange(16 * 16 * 3, dtype=np.uint8).reshape(16, 16, 3)
    payload = bytearray(encode_jpeg(arr, 90, progressive=True))
    i = data.draw(st.integers(0, len(payload) - 1))
    delta = data.draw(st.integers(1, 255))
    payload[i] = (payload[i] + delta) % 256
    try:
        w, h, back = decode_jpeg(bytes(payload))
    except ValueError:
        return
    assert back.shape[2] == 3  # decoded to SOMETHING pixel-shaped


@PROP
@given(
    word=st.text(
        alphabet=st.characters(min_codepoint=97, max_codepoint=122),
        min_size=0,
        max_size=24,
    ),
    pieces=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=97, max_codepoint=122),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=30,
    ),
)
def test_viterbi_segmentation_coverage_invariant(word, pieces):
    """The Viterbi encode contract over random tables: pieces always
    concatenate back to the word EXACTLY (lossless coverage), every
    emitted piece is either in the table or a single-char <unk>, and
    segmentation is deterministic — the invariants that make the
    unigram replay oracle and the drift/fertility audits valid."""
    from victor_spark.operators.unigram import viterbi_segment

    logps = {p: -float(len(p)) for p in pieces}
    max_len = max(len(p) for p in logps)
    segs = viterbi_segment(word, logps, max_len)
    assert "".join(segs) == word
    for s in segs:
        assert s in logps or len(s) == 1
    assert viterbi_segment(word, logps, max_len) == segs


@PROP
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["the", "data", "novel", "xq", "zz", ""]),
            min_size=0,
            max_size=8,
        ),
        min_size=1,
        max_size=6,
    ),
    vocab=st.lists(
        st.sampled_from(["the", "data", "join"]),
        min_size=1,
        max_size=3,
    ),
)
def test_type_drift_matches_python_model(spark, docs, vocab):
    """type_drift/drift_metrics against a brute-force Python model on
    random corpora: token totals, OOV splits, and the rate."""
    from collections import Counter

    from victor_spark.streaming import drift_metrics, type_drift

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = drift_metrics(type_drift(d, vocab)).first()

    cnt = Counter(w for ws in docs for w in ws if w)
    vs = set(vocab)
    n_tokens = sum(cnt.values())
    oov_tokens = sum(n for w, n in cnt.items() if w not in vs)
    assert got["n_tokens"] == n_tokens
    assert got["n_types"] == len(cnt)
    assert got["oov_tokens"] == oov_tokens
    assert got["oov_types"] == sum(1 for w in cnt if w not in vs)
    if n_tokens == 0:
        assert got["oov_token_rate"] is None
    else:
        assert got["oov_token_rate"] == round(oov_tokens / n_tokens, 6)
