"""Property tests (SURVEY.md §5.4): engine invariants that must hold for
any input, checked over hypothesis-generated micro-tables and the fixture
data.

These guard the properties a distributed engine can silently break:
aggregation must be partitioning-invariant (partial+final merge is
associative/commutative), filters must be containments, pivots must be
bijections on group keys.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.deep  # driver-default deselected tier (pytest.ini, VERDICT r15 #6)

import pandas as pd

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from hbase_hadoop_flightsearch_spark.plans.delay_report import (
    delay_report_from,
)
from hbase_hadoop_flightsearch_spark.sources.flights import flights

SF = "/root/testdata/sf0.001"

row_strategy = st.tuples(
    st.integers(min_value=2007, max_value=2008),  # year
    st.integers(min_value=1, max_value=12),  # month
    st.sampled_from(["AA", "BB", "CC"]),  # carrier
    st.integers(min_value=0, max_value=240),  # delay (int-valued)
    st.sampled_from([0.0, 1.0]),  # cancelled
    st.sampled_from([0.0, 1.0]),  # diverted
)

COLS = ["year", "month", "carrier", "arr_delay_minutes", "cancelled", "diverted"]


def _df(spark, rows):
    pdf = pd.DataFrame(rows, columns=COLS)
    pdf["arr_delay_minutes"] = pdf["arr_delay_minutes"].astype(float)
    return spark.createDataFrame(pdf)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(row_strategy, min_size=1, max_size=40))
def test_flagship_partitioning_invariance(spark, rows):
    """The flagship pivot must be identical at 1 partition and 7 partitions:
    partial aggregation merge is associative+commutative, so physical
    parallelism can never change the answer."""
    fl = _df(spark, rows)
    one = sorted(map(tuple, delay_report_from(fl.coalesce(1)).collect()))
    many = sorted(map(tuple, delay_report_from(fl.repartition(7)).collect()))
    assert one == many


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(row_strategy, min_size=1, max_size=40))
def test_flagship_pivot_shape(spark, rows):
    """Pivot output: one row per carrier that survives the filters; always
    exactly 13 columns (carrier + 12 months); every cell non-null."""
    fl = _df(spark, rows)
    out = delay_report_from(fl)
    surviving = (
        fl.filter(
            (F.col("year") == 2008)
            & (F.col("cancelled").cast("int") != 1)
            & (F.col("diverted").cast("int") != 1)
        )
        .select("carrier")
        .distinct()
        .count()
    )
    got = out.collect()
    assert len(got) == surviving
    assert len(out.columns) == 13
    assert all(v is not None for r in got for v in r)


def test_filter_is_containment(spark):
    """Filtered rowset ⊆ input rowset, and filter+count is exact."""
    fl = flights(spark, SF)
    total = fl.count()
    kept = fl.filter(F.col("year") == 2008).count()
    dropped = fl.filter(F.col("year") != 2008).count()
    assert kept + dropped == total
    assert kept <= total


def test_groupby_sum_invariant_under_repartition(spark):
    """Same aggregate through 1, 3, 32 shuffle widths on real fixture data."""
    fl = flights(spark, SF)
    results = []
    for n in (1, 3, 32):
        agg = (
            fl.repartition(n)
            .groupBy("carrier")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("arr_delay_minutes"), 6).alias("s"),
            )
        )
        results.append(sorted(map(tuple, agg.collect())))
    assert results[0] == results[1] == results[2]


edge_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=11),
        st.integers(min_value=0, max_value=11),
    ).filter(lambda e: e[0] != e[1]),
    max_size=12,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(edges=edge_strategy)
def test_connected_components_matches_union_find(spark, edges):
    """Large-star/small-star CC must agree with a sequential union-find
    (which labels each component with its min vertex) on arbitrary graphs
    over 12 vertices, including chains, cycles, and the empty graph."""
    from hbase_hadoop_flightsearch_spark.operators.graph import (
        connected_components,
    )

    n = 12
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
    want = {v: find(v) for v in range(n)}

    vertices = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    pairs = (
        spark.createDataFrame(edges, ["d1", "d2"])
        if edges
        else spark.createDataFrame([], "d1 bigint, d2 bigint")
    )
    got = {
        r.doc_id: r.component_id
        for r in connected_components(vertices, pairs).collect()
    }
    assert got == want


@given(
    a=st.integers(min_value=0, max_value=(1 << 16) - 1),
    b=st.integers(min_value=0, max_value=(1 << 16) - 1),
)
@settings(max_examples=30, deadline=None)
def test_zorder_interleave_roundtrip(spark, a, b):
    """The Morton key must be a bijection on 16-bit pairs: deinterleaving
    the even/odd bits recovers exactly (a, b), and the key preserves
    per-dimension bit count (no dropped or aliased bits)."""
    from hbase_hadoop_flightsearch_spark.sources.layout import ZBITS, zvalue

    from pyspark.sql import functions as F

    z = (
        spark.range(1)
        .select(zvalue(F.lit(a), F.lit(b), ZBITS).alias("z"))
        .first()["z"]
    )
    ra = rb = 0
    for i in range(ZBITS):
        ra |= ((z >> (2 * i)) & 1) << i
        rb |= ((z >> (2 * i + 1)) & 1) << i
    assert (ra, rb) == (a, b)


event_strategy = st.tuples(
    st.integers(min_value=0, max_value=59),  # minute offset
    st.integers(min_value=1, max_value=3),  # user
    st.floats(min_value=0.01, max_value=400.0),
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(event_strategy, min_size=14, max_size=40))
def test_anomaly_zscore_translation_invariant(spark, rows):
    """z-scores are translation-invariant, and the cents-integer
    formulation preserves that EXACTLY: shifting every value by a whole
    cent amount must yield the identical anomaly set (same event_ids).
    A float implementation would drift near boundaries; the integer
    inequality cannot."""
    import datetime as dt

    from hbase_hadoop_flightsearch_spark.operators.timeseries import (
        anomaly_zscore,
    )

    base = [
        (i, dt.datetime(2024, 1, 1, 0, m), u, "e", round(v, 2))
        for i, (m, u, v) in enumerate(rows)
    ]
    shifted = [
        (i, ts, u, t, round(v + 100.00, 2)) for (i, ts, u, t, v) in base
    ]
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double"
    )
    ids = lambda data: sorted(
        r.event_id
        for r in anomaly_zscore(spark.createDataFrame(data, schema)).collect()
    )
    assert ids(base) == ids(shifted)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(event_strategy, min_size=1, max_size=30),
    seed=st.integers(min_value=0, max_value=999),
)
def test_ohlc_input_order_invariant(spark, rows, seed):
    """OHLC bars must not depend on row arrival order (the struct-key
    argmin/argmax makes first/last a property of the DATA, not the
    partition layout): any permutation + any partitioning yields
    identical bars."""
    import datetime as dt
    import random

    from hbase_hadoop_flightsearch_spark.operators.timeseries import (
        resample_ohlc,
    )

    base = [
        (i, dt.datetime(2024, 1, 1, 9 + (i % 2), m), u, "e", round(v, 2))
        for i, (m, u, v) in enumerate(rows)
    ]
    perm = base[:]
    random.Random(seed).shuffle(perm)
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double"
    )
    bars = lambda data, parts: sorted(
        map(
            tuple,
            resample_ohlc(
                spark.createDataFrame(data, schema).repartition(parts)
            ).collect(),
        )
    )
    assert bars(base, 1) == bars(perm, 5)


def test_dau_wau_invariants_and_bruteforce(spark, sf_smoke):
    """WAU >= DAU everywhere, and WAU at each day equals the brute-force
    distinct-user count over the trailing window."""
    import datetime

    from hbase_hadoop_flightsearch_spark.operators.timeseries import (
        WAU_DAYS,
        events_dau_wau,
    )
    from hbase_hadoop_flightsearch_spark.sources.catalog import load_table

    out = {r["day"]: r for r in events_dau_wau(spark, sf_smoke).collect()}
    assert out
    events = load_table(spark, sf_smoke, "events").select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    )
    pairs = {(r["user_id"], r["d"]) for r in events.distinct().collect()}
    for day, r in out.items():
        assert r["wau"] >= r["dau"] > 0
        lo = day - datetime.timedelta(days=WAU_DAYS - 1)
        brute = len({u for (u, d) in pairs if lo <= d <= day})
        assert r["wau"] == brute, day


def test_bitmap_distinct_word_collisions(spark):
    """Keys landing in the same 64-bit word must still count separately;
    duplicate keys must collapse."""
    rows = [("P", k) for k in (0, 1, 63, 64, 64, 128, 128, 128)] + [
        ("Q", 5), ("Q", 5)
    ]
    df = spark.createDataFrame(rows, "o_orderpriority string, o_custkey long")
    words = (
        df.select(
            "o_orderpriority",
            (F.col("o_custkey") / 64).cast("long").alias("w"),
            F.expr("shiftleft(1L, CAST(pmod(o_custkey, 64) AS INT))").alias(
                "b"
            ),
        )
        .groupBy("o_orderpriority", "w")
        .agg(F.expr("bit_or(b)").alias("bits"))
        .groupBy("o_orderpriority")
        .agg(F.sum(F.bit_count("bits")).alias("n"))
    )
    got = {r["o_orderpriority"]: r["n"] for r in words.collect()}
    assert got == {"P": 5, "Q": 1}


def test_compaction_groups_contiguous_and_bounded(spark, sf_smoke):
    """Per partition: group ids start at 0 and are nondecreasing in file
    order (a file bigger than the target may legitimately skip ids), and
    every group's byte total is < target + its own largest file (the
    prefix-binning bound — no group can overshoot by more than one
    file)."""
    from hbase_hadoop_flightsearch_spark.plans.registry import load_all
    from hbase_hadoop_flightsearch_spark.sources.layout import (
        COMPACT_MAX_GROUPS,
    )

    rows = load_all()["layout_compaction_plan"].fn(spark, sf_smoke).collect()
    by_part = {}
    for r in rows:
        by_part.setdefault(r["part_day"], []).append(r)
    assert by_part
    for day, files in by_part.items():
        total = sum(f["size_bytes"] for f in files)
        target = max(total // COMPACT_MAX_GROUPS, 1)
        files.sort(key=lambda f: f["file_bucket"])
        seq = [f["group_id"] for f in files]
        assert seq[0] == 0 and seq == sorted(seq), day
        for g in set(seq):
            members = [f for f in files if f["group_id"] == g]
            gbytes = sum(f["size_bytes"] for f in members)
            assert gbytes == members[0]["group_bytes"]
            assert gbytes < target + max(f["size_bytes"] for f in members)


def test_benford_fracs_sum_to_one(spark, sf_smoke):
    from hbase_hadoop_flightsearch_spark.plans.registry import load_all

    rows = load_all()["dq_benford_first_digit"].fn(spark, sf_smoke).collect()
    assert {r["digit"] for r in rows} <= set(range(1, 10))
    assert abs(sum(r["observed_frac"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["benford_frac"] for r in rows) - 1.0) < 1e-3


@settings(max_examples=60, deadline=None)
@given(
    data=st.data(),
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=30),
)
def test_gif_lzw_roundtrip_arbitrary_images(data, w, h):
    """Property: ANY 8-color index grid survives GIF LZW encode+decode
    through the full container (not just the registered pixel law)."""
    import struct

    from hbase_hadoop_flightsearch_spark.functions.multimodal import (
        GIF_NCOLORS,
        gif_pixels,
        lzw_encode_gif,
    )

    idx = data.draw(
        st.lists(
            st.integers(min_value=0, max_value=GIF_NCOLORS - 1),
            min_size=w * h,
            max_size=w * h,
        )
    )
    hdr = b"GIF87a" + struct.pack("<HHBBB", w, h, 0x80 | 0x02, 0, 0)
    gct = bytes(range(GIF_NCOLORS * 3))
    desc = b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    payload = lzw_encode_gif(idx, 3)
    blocks = bytearray([3])
    for i in range(0, len(payload), 255):
        chunk = payload[i: i + 255]
        blocks += bytes([len(chunk)]) + chunk
    blocks += b"\x00"
    rows, _ct = gif_pixels(hdr + gct + desc + bytes(blocks) + b"\x3B")
    assert [c for r in rows for c in r] == idx


@settings(max_examples=40, deadline=None)
@given(
    data=st.data(),
    w=st.integers(min_value=1, max_value=20),
    h=st.integers(min_value=1, max_value=15),
)
def test_png_filter_roundtrip_arbitrary_images(data, w, h):
    """Property: ANY RGB grid survives the PNG encode+decode, across all
    five per-row filter types (encode cycles them by row)."""
    from hbase_hadoop_flightsearch_spark.functions.multimodal import (
        png_pixels,
    )
    from hbase_hadoop_flightsearch_spark.functions import multimodal as mm

    px = data.draw(
        st.lists(
            st.tuples(
                st.integers(0, 255), st.integers(0, 255), st.integers(0, 255)
            ),
            min_size=w * h,
            max_size=w * h,
        )
    )

    def law(_doc, x, y):
        return px[y * w + x]

    # reuse the synth pipeline with an arbitrary law via monkey wiring:
    # _synth_png derives dims from doc_id; build the container manually
    # with the same filter cycling instead.
    import struct
    import zlib

    bpp = 3
    raw = bytearray()
    prev = bytes(bpp * w)
    for y in range(h):
        row = bytes(b for x in range(w) for b in law(0, x, y))
        f = y % 5
        raw.append(f)
        out = bytearray()
        for i, v in enumerate(row):
            left = row[i - bpp] if i >= bpp else 0
            up = prev[i]
            ul = prev[i - bpp] if i >= bpp else 0
            if f == 0:
                out.append(v)
            elif f == 1:
                out.append((v - left) & 0xFF)
            elif f == 2:
                out.append((v - up) & 0xFF)
            elif f == 3:
                out.append((v - (left + up) // 2) & 0xFF)
            else:
                out.append((v - mm._paeth(left, up, ul)) & 0xFF)
        raw += out
        prev = row

    def chunk(ctype, payload):
        crc = zlib.crc32(ctype + payload) & 0xFFFFFFFF
        return (
            struct.pack(">I", len(payload)) + ctype + payload
            + struct.pack(">I", crc)
        )

    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    rows = png_pixels(blob)
    assert [tuple(c) for r in rows for c in r] == px


@settings(max_examples=40, deadline=None)
@given(
    data=st.data(),
    bw=st.integers(min_value=1, max_value=4),
    bh=st.integers(min_value=1, max_value=4),
)
def test_jpeg_block_constant_roundtrip_arbitrary_values(data, bw, bh):
    """Property: ANY block-constant YCbCr image (all 256^3 values, not
    just the registered law's range) survives the baseline JPEG encode +
    full entropy/IDCT decode integer-exactly — the lossless class the
    oracle relies on, pinned for arbitrary content including the 0/255
    clamp edges. (The GIF twin of this property caught a real
    end-of-stream encoder bug; codecs get fuzzed, not just law-tested.)"""
    import struct as st_

    import hbase_hadoop_flightsearch_spark.functions.multimodal as mm

    blocks = [
        [
            (
                data.draw(st.integers(0, 255)),
                data.draw(st.integers(0, 255)),
                data.draw(st.integers(0, 255)),
            )
            for _ in range(bw)
        ]
        for _ in range(bh)
    ]
    w, h = 8 * bw, 8 * bh
    app0 = (b"\xff\xe0" + st_.pack(">H", 16) + b"JFIF\x00\x01\x01"
            + b"\x00" + st_.pack(">HH", 1, 1) + b"\x00\x00")
    dqt = b"".join(
        b"\xff\xdb" + st_.pack(">H", 67) + bytes([tid]) + bytes([8] * 64)
        for tid in (0, 1)
    )
    sof0 = (b"\xff\xc0" + st_.pack(">H", 17) + b"\x08"
            + st_.pack(">HH", h, w) + b"\x03"
            + b"\x01\x11\x00" + b"\x02\x11\x01" + b"\x03\x11\x01")
    dht = (mm._dht_segment(0, 0, *mm._ENC_DC_LUMA)
           + mm._dht_segment(0, 1, *mm._ENC_DC_CHROMA)
           + mm._dht_segment(1, 0, *mm._ENC_AC_EOB)
           + mm._dht_segment(1, 1, *mm._ENC_AC_EOB))
    sos = (b"\xff\xda" + st_.pack(">H", 12) + b"\x03"
           + b"\x01\x00" + b"\x02\x11" + b"\x03\x11" + b"\x00\x3f\x00")
    dc_codes = (
        mm._canonical_codes(*mm._ENC_DC_LUMA),
        mm._canonical_codes(*mm._ENC_DC_CHROMA),
        mm._canonical_codes(*mm._ENC_DC_CHROMA),
    )
    ac_codes = (mm._canonical_codes(*mm._ENC_AC_EOB),) * 3
    bwr = mm._BitWriter()
    pred = [0, 0, 0]
    for by in range(bh):
        for bx in range(bw):
            comps = blocks[by][bx]
            for ci in range(3):
                dc = comps[ci] - 128
                diff = dc - pred[ci]
                pred[ci] = dc
                t = abs(diff).bit_length()
                code, ln = dc_codes[ci][t]
                bwr.put(code, ln)
                if t:
                    bwr.put(
                        diff if diff >= 0 else diff + (1 << t) - 1, t
                    )
                code, ln = ac_codes[ci][0x00]
                bwr.put(code, ln)
    payload = (b"\xff\xd8" + app0 + dqt + sof0 + dht + sos
               + bwr.flush() + b"\xff\xd9")
    out = mm.jpeg_decode(payload)
    assert (out["w"], out["h"]) == (w, h)
    for by in range(bh):
        for bx in range(bw):
            yv, cb, cr = blocks[by][bx]
            blk = out["ycbcr"][8 * by: 8 * by + 8, 8 * bx: 8 * bx + 8]
            assert (blk[:, :, 0] == yv).all()
            assert (blk[:, :, 1] == cb).all()
            assert (blk[:, :, 2] == cr).all()


@settings(max_examples=40, deadline=None)
@given(
    data=st.data(),
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
)
def test_png_roundtrip_arbitrary_images(data, w, h):
    """Property: ANY RGB image survives the all-five-filters PNG encode
    + CRC-verified inflate decode byte-exactly."""
    import struct
    import zlib

    from hbase_hadoop_flightsearch_spark.functions.multimodal import (
        _paeth,
        png_pixels,
    )

    px = [
        [
            (
                data.draw(st.integers(0, 255)),
                data.draw(st.integers(0, 255)),
                data.draw(st.integers(0, 255)),
            )
            for _ in range(w)
        ]
        for _ in range(h)
    ]
    raw = bytearray()
    prev = bytes(3 * w)
    for y in range(h):
        row = bytes(b for x in range(w) for b in px[y][x])
        f = y % 5
        raw.append(f)
        out = bytearray()
        for i, v in enumerate(row):
            left = row[i - 3] if i >= 3 else 0
            up = prev[i]
            ul = prev[i - 3] if i >= 3 else 0
            if f == 0:
                out.append(v)
            elif f == 1:
                out.append((v - left) & 0xFF)
            elif f == 2:
                out.append((v - up) & 0xFF)
            elif f == 3:
                out.append((v - (left + up) // 2) & 0xFF)
            else:
                out.append((v - _paeth(left, up, ul)) & 0xFF)
        raw += out
        prev = row

    def chunk(t, d):
        crc = zlib.crc32(t + d) & 0xFFFFFFFF
        return struct.pack(">I", len(d)) + t + d + struct.pack(">I", crc)

    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    rows = png_pixels(payload)
    assert [[tuple(c) for c in r] for r in rows] == px


@settings(max_examples=60, deadline=None)
@given(
    samples=st.lists(
        st.integers(min_value=-32768, max_value=32767),
        min_size=1,
        max_size=1200,
    )
)
def test_wav_roundtrip_arbitrary_pcm(samples):
    """Property: ANY int16 PCM stream survives the WAV chunk walk
    sample-exactly (incl. full-scale negative edges)."""
    import struct

    from hbase_hadoop_flightsearch_spark.functions.multimodal import (
        wav_pcm_samples,
    )

    n = len(samples)
    pcm = struct.pack(f"<{n}h", *samples)
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    assert list(wav_pcm_samples(wav)) == samples


@settings(max_examples=25, deadline=None)
@given(data=st.data(), doc_id=st.integers(min_value=0, max_value=5000))
def test_avi_roundtrip_arbitrary_frame_content(data, doc_id):
    """Property: ANY per-pixel frame content survives the AVI container
    + DIB decode exactly (pixel law swapped for arbitrary draws)."""
    import hbase_hadoop_flightsearch_spark.functions.multimodal as mm

    table: dict = {}

    def law(d, f, x, y):
        k = (d, f, x, y)
        if k not in table:
            table[k] = (
                data.draw(st.integers(0, 255)),
                data.draw(st.integers(0, 255)),
                data.draw(st.integers(0, 255)),
            )
        return table[k]

    orig = mm._avi_pixel_law
    mm._avi_pixel_law = law
    try:
        frames = mm.avi_frames(mm._synth_avi(doc_id))
    finally:
        mm._avi_pixel_law = orig
    for f, fr in enumerate(frames):
        for y, row in enumerate(fr):
            for x, px in enumerate(row):
                assert px == table[(doc_id, f, x, y)]


@given(
    st.lists(
        st.tuples(st.integers(1, 40), st.booleans()),
        min_size=3,
        max_size=60,
    )
)
@settings(max_examples=200, deadline=None)
def test_stump_scaled_cost_argmin_near_true_optimum(pts):
    """The per-mille-floored Gini cost (ml_decision_stump_gini's device)
    may reorder splits whose true rational costs differ by < 1/SCALE —
    but the CHOSEN split's true cost must then be within 2/SCALE of the
    true optimum (floors move each cost < 1 unit). Pure-python replay
    of the registered arithmetic against exact fractions."""
    from fractions import Fraction

    from hbase_hadoop_flightsearch_spark.operators.clustering import (
        STUMP_COST_SCALE,
    )

    xs = sorted({x for x, _ in pts})
    if len(xs) < 2:
        return
    n = len(pts)
    pos_tot = sum(1 for _, y in pts if y)
    best_scaled, best_scaled_true = None, None
    best_true = None
    for t in xs[:-1]:
        nl = sum(1 for x, _ in pts if x <= t)
        pl = sum(1 for x, y in pts if x <= t and y)
        nr, pr = n - nl, pos_tot - pl
        true_cost = Fraction(pl * (nl - pl), nl) + Fraction(pr * (nr - pr), nr)
        scaled = (
            STUMP_COST_SCALE
            * 2
            * (pl * (nl - pl) * nr + pr * (nr - pr) * nl)
        ) // (nl * nr * n)
        if best_scaled is None or scaled < best_scaled:
            best_scaled, best_scaled_true = scaled, true_cost
        if best_true is None or true_cost < best_true:
            best_true = true_cost
    # normalize as the scaled formula does: weighted cost * 2 / n
    gap = Fraction(2, n) * (best_scaled_true - best_true)
    assert gap <= Fraction(2, STUMP_COST_SCALE), (gap, pts)


@given(st.integers(-10**15, 10**15), st.integers(1, 10**6))
@settings(max_examples=300, deadline=None)
def test_hw_tdiv_is_engine_truncating_division(a, b):
    """_hw_tdiv must equal BOTH engines' integral division on signed
    operands — i.e., truncation toward zero (Spark `div`, DuckDB
    integer `//`), which is math.trunc of the exact quotient, NOT
    Python's floor //."""
    import math
    from fractions import Fraction

    from hbase_hadoop_flightsearch_spark.operators.timeseries import _hw_tdiv

    assert _hw_tdiv(a, b) == math.trunc(Fraction(a, b))


def test_kcenter_two_approximation_vs_bruteforce(spark):
    """Gonzalez greedy is a 2-approximation of the optimal k-center
    radius: greedy_radius <= 2^2 * optimal_radius in SQUARED distance
    (factor 2 in metric distance -> 4 in squared). Brute-force the
    optimal over all C(6,2) center pairs of a 6-point set with k=2."""
    import itertools

    from hbase_hadoop_flightsearch_spark.operators import sampling as S
    from pyspark.sql import functions as F

    pts = {
        0: (0, 0), 1: (1, 0), 2: (0, 1),
        3: (100, 100), 4: (101, 100), 5: (100, 101),
    }

    def d2(a, b):
        return (a[0] - b[0]) ** 2 + (a[1] - b[1]) ** 2

    opt = min(
        max(min(d2(p, pts[c1]), d2(p, pts[c2])) for p in pts.values())
        for c1, c2 in itertools.combinations(pts, 2)
    )

    # Greedy on the same points through the Spark operator internals:
    # quantization is identity here (integer coords scaled by 2^15 both
    # in greedy and in the brute force above cancels out).
    df = spark.createDataFrame(
        [(i, [float(x), float(y)]) for i, (x, y) in pts.items()],
        "vec_id long, embedding array<float>",
    )
    q = df.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * F.lit(S.KC_QSCALE)).cast("bigint"),
        ).alias("v"),
    ).localCheckpoint()
    first = q.orderBy("vec_id").first()
    cur = q.withColumn("md", S._kc_dist_to(first["v"]))
    far = cur.orderBy(F.desc("md"), "vec_id").first()
    cur = cur.withColumn("md", F.least("md", S._kc_dist_to(far["v"])))
    greedy_r = cur.agg(F.max("md")).collect()[0][0]
    scale = int(S.KC_QSCALE) ** 2
    assert greedy_r <= 4 * opt * scale
    # The two greedy centers must span the two clusters.
    assert (first["vec_id"] < 3) != (far["vec_id"] < 3)


def test_c4_line_filters_hand_fixture(spark):
    """A doc_id=0 doc triggers BOTH lorem (0%97) and brace (0%89) — lorem
    wins by precedence; a long doc with terminators keeps >= 3 lines; a
    doc whose every line misses the terminator dies 'short'."""
    import hbase_hadoop_flightsearch_spark.functions.text as T

    docs = spark.createDataFrame(
        [
            # doc_id 0: k=5; ' lorem ipsum' AND ' {' both inject (0 is a
            # multiple of 97 and 89) -> lorem wins by precedence.
            (0, "sA", " ".join(["w"] * 25)),
            # doc_id 1: k=6, lines end '.' unless (1+i)%4==0 (i=3) ->
            # 4 of its 5 lines keep -> kept.
            (1, "sA", " ".join(["w"] * 30)),
            # doc_id 4: k=6; terminator missing when (4+i)%4==0 -> i=0,4;
            # 30 words = 5 lines, 3 keep -> kept (boundary).
            (4, "sB", " ".join(["w"] * 30)),
            # doc_id 3: k=5, only 10 words -> 2 lines max -> short.
            (3, "sB", " ".join(["w"] * 10)),
        ],
        "doc_id long, source string, text string",
    )

    orig = T.load_table
    try:
        T.load_table = lambda _s, _d, _t: docs
        out = {
            r["source"]: r
            for r in T.text_c4_line_filters(spark, "ignored").collect()
        }
    finally:
        T.load_table = orig

    assert out["sA"]["docs_drop_lorem"] == 1
    assert out["sA"]["docs_kept"] == 1
    assert out["sB"]["docs_drop_short"] == 1
    assert out["sB"]["docs_kept"] == 1
    assert out["sB"]["lines_kept"] == 3  # the boundary doc keeps exactly 3


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.integers(min_value=-(10**9), max_value=10**9),
        min_size=1,
        max_size=60,
    )
)
def test_median_bisection_matches_sorted_selection_property(spark, vals):
    """For ANY integer multiset (negatives, duplicates, singletons), the
    bisection median equals the sort-based lower median and converges
    within the round bound."""
    from hbase_hadoop_flightsearch_spark.operators.aggregates import (
        MEDIAN_BISECT_MAX_ROUNDS,
        exact_median_bisect,
    )

    df = spark.createDataFrame([(v,) for v in vals], "cents long")
    median, n, rounds = exact_median_bisect(df, "cents")
    assert n == len(vals)
    assert median == sorted(vals)[(n + 1) // 2 - 1]
    assert rounds <= MEDIAN_BISECT_MAX_ROUNDS


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    alpha10=st.integers(min_value=12, max_value=40),  # alpha in [1.2, 4.0]
)
def test_hill_estimator_tracks_true_pareto_exponent(spark, alpha10):
    """On an exact Pareto(alpha) quantile grid the Hill estimate must
    land within ~20% of the true tail exponent, for any alpha in the
    heavy-tail range."""
    import hbase_hadoop_flightsearch_spark.operators.aggregates as A

    alpha = alpha10 / 10.0
    n = 1500
    orders = spark.createDataFrame(
        [(i, 100.0 * (n / i) ** (1.0 / alpha)) for i in range(1, n + 1)],
        "o_orderkey long, o_totalprice double",
    )
    orig = A.load_table
    try:
        A.load_table = lambda _s, _d, _t: orders
        r = A.agg_tail_index_hill(spark, "x").collect()[0]
    finally:
        A.load_table = orig
    alpha_hat = r["alpha_micro"] / 1e6
    assert abs(alpha_hat - alpha) <= 0.2 * alpha + 0.1, (alpha, alpha_hat)


@settings(max_examples=120, deadline=None)
@given(
    vals=st.lists(
        st.floats(
            min_value=-1e12,
            max_value=1e12,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=300,
    )
)
def test_cumsum_sequential_fold_property(vals):
    """Property form of the fold-parity pin that five r9 full value
    oracles rest on (IVF/PQ/IVFPQ/SemDeDup/quantile-digest): the
    engine's _seq_sum (an explicit 0.0-seeded loop fold since r10 —
    ADVICE r9 removed the np.cumsum-internals dependency) must equal
    the strict left-to-right Python scalar fold for ANY float64
    contents — magnitudes mixed by hypothesis, where a pairwise/blocked
    summation would diverge."""
    import numpy as np

    from hbase_hadoop_flightsearch_spark.operators.similarity import (
        _seq_sum,
    )

    s = 0.0
    for x in vals:
        s = s + x
    assert float(_seq_sum(np.array(vals, dtype=np.float64))) == s


@settings(max_examples=30, deadline=None)
@given(
    vals=st.lists(
        st.floats(
            min_value=-1e9,
            max_value=1e9,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=64,
    )
)
def test_listreduce_matches_zero_seeded_fold_property(vals):
    """DuckDB list_reduce (first-element-seeded) == 0.0-seeded Python
    fold, for any float64 list: 0.0 + x == x exactly in IEEE 754."""
    import duckdb

    got = duckdb.connect().execute(
        "SELECT list_reduce(CAST(? AS DOUBLE[]), (a, b) -> a + b)", [vals]
    ).fetchone()[0]
    s = 0.0
    for x in vals:
        s = s + x
    assert got == s
