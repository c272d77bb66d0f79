"""Property-based tests (hypothesis) — SURVEY.md §5 strategy items:
stitching invariants on arbitrary segment soups, contour-count
monotonicity in MinorDistance, DP idempotence on its own output,
codec round-trips on arbitrary grids."""

import numpy as np
from hypothesis import given, settings, strategies as st

from hgt2osm2_spark.config import ContourOptions
from hgt2osm2_spark.kernels import codecs, marching, postprocess
from tests.polyline_twins import stitch_level

coord = st.integers(min_value=0, max_value=6).map(float)
point = st.tuples(coord, coord)
segment = st.tuples(point, point).filter(lambda s: s[0] != s[1])


def _dedup_undirected(segs):
    seen, out = set(), []
    for a, b in segs:
        key = (a, b) if a <= b else (b, a)
        if key not in seen:
            seen.add(key)
            out.append((a, b))
    return out


@settings(max_examples=200, deadline=None)
@given(st.lists(segment, min_size=1, max_size=60))
def test_stitch_invariants(segs):
    # unique undirected input: the reference's PseudoLineBag.Add dedup
    # (ContourProcessor2.cs:618-640) misses a reversed duplicate whose
    # both endpoints are already keys — faithfully replicated, so the
    # single-use invariant only holds for duplicate-free input (which
    # is what the marching kernel emits per level)
    segs = _dedup_undirected(segs)
    pls = stitch_level(segs)
    # every polyline has >= 2 points and no zero-length steps beyond
    # what the input dedup allows
    for pl in pls:
        assert len(pl) >= 2
    # invariant #4 (PseudoPolylineBag.Test, ContourProcessor2.cs:1049):
    # no two OPEN polylines still share an endpoint after stitching
    open_eps = []
    for pl in pls:
        if pl[0] != pl[-1]:
            open_eps.extend([pl[0], pl[-1]])
    assert len(open_eps) == len(set(open_eps))
    # undirected edge multiset of output is a subset of input (dedup'd)
    def norm(a, b):
        return (a, b) if a <= b else (b, a)
    in_edges = {norm(*s) for s in segs}
    out_edges = set()
    for pl in pls:
        for a, b in zip(pl, pl[1:]):
            e = norm(a, b)
            assert e in in_edges
            assert e not in out_edges  # each segment used at most once
            out_edges.add(e)


@settings(max_examples=25, deadline=None)
@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_contour_count_monotonic_in_distance(seed):
    rng = np.random.default_rng(seed)
    g = rng.normal(200, 120, (12, 12)).astype(np.int16)
    counts = []
    for d in (10, 20, 40):
        seg = marching.extract_segments(g, d, -0.5)
        counts.append(len(seg))
    # finer spacing -> at least as many segments
    assert counts[0] >= counts[1] >= counts[2]


@settings(max_examples=100, deadline=None)
@given(st.lists(point, min_size=3, max_size=40), st.floats(0.01, 1.0))
def test_dp_idempotent(pts, eps):
    once, _ = postprocess.douglas_peucker(pts, eps)
    twice, removed2 = postprocess.douglas_peucker(once, eps)
    assert twice == once and removed2 == 0


@settings(max_examples=50, deadline=None)
@given(
    st.integers(min_value=0, max_value=2**32 - 1),
    st.sampled_from(["hgt", "png"]),
    st.integers(min_value=2, max_value=24),
)
def test_lossless_codec_roundtrip(seed, fmt, n):
    rng = np.random.default_rng(seed)
    g = rng.integers(-32000, 32000, (n, n), dtype=np.int16)
    g[rng.random((n, n)) < 0.05] = codecs.NOVALUE
    back = codecs.decode(codecs.encode(g, fmt), fmt, n, n)
    assert np.array_equal(g, back)


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=2**32 - 1), st.integers(4, 20))
def test_djpg_psnr_bound(seed, n):
    rng = np.random.default_rng(seed)
    g = np.clip(
        rng.normal(500, 300, (n, n)) + np.linspace(0, 200, n)[None, :], -30000, 30000
    ).astype(np.int16)
    back = codecs.decode(codecs.encode(g, "jpg"), "jpg", n, n)
    assert codecs.psnr(g, back) >= 40.0


# ---- round-3 codecs: GIF LZW and AVI container, arbitrary inputs ----

@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=1, max_size=4000))
def test_gif_lzw_roundtrip_arbitrary_bytes(raw):
    """LZW compress->decompress is the identity on ANY byte sequence
    (8-bit alphabet), including runs that force code-size growth and
    table resets."""
    from hgt2osm2_spark.kernels import gif

    idx = np.frombuffer(raw, np.uint8)
    out = gif._lzw_decompress(gif._lzw_compress(idx, 8), 8, len(idx))
    assert bytes(out) == raw


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=2, max_value=24),
    st.integers(min_value=2, max_value=24),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_gif_full_roundtrip_arbitrary_images(h, w, seed):
    from hgt2osm2_spark.kernels import gif

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    dec = gif.decode_gif_rgb8(gif.encode_gif_rgb8(img))
    assert (dec == gif.websafe_quantize(img)).all()


@settings(max_examples=60, deadline=None)
@given(st.lists(st.binary(min_size=0, max_size=600), min_size=1, max_size=12),
       st.integers(min_value=1, max_value=60))
def test_avi_container_roundtrip_arbitrary_frames(frames, fps):
    """The container must return frame payloads byte-exactly whatever
    their sizes (odd lengths exercise RIFF pad bytes; empty frames are
    legal chunks)."""
    from hgt2osm2_spark.kernels import avi

    blob = avi.encode_avi_mjpeg(frames, w=32, h=16, fps=fps)
    info = avi.demux_avi(blob)
    assert info["frames"] == frames
    assert info["n_frames"] == len(frames)
    assert (info["w"], info["h"]) == (32, 16)


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 24), w=st.integers(1, 24),
    channels=st.sampled_from([3, 4]),
    seed=st.integers(0, 2**31 - 1),
    feature=st.sampled_from(
        ["plain", "sg", "cache", "runs", "pred", "ct", "pal"]
    ),
)
def test_webp_roundtrip_property(h, w, channels, seed, feature):
    """Any image through any encoder feature set round-trips exactly."""
    import numpy as np

    from hgt2osm2_spark.kernels import webp

    rng = np.random.default_rng(seed)
    if feature == "pal":
        # draw pixels from a fixed <=256-colour universe so the palette
        # path itself (not the >256 fallback) gets dense coverage
        universe = rng.integers(0, 256, (97, channels), dtype=np.uint8)
        img = universe[rng.integers(0, 97, (h, w))]
    else:
        img = (rng.integers(0, 5, (h, w, channels)) * 53).astype(np.uint8)
    kw = {
        "plain": {},
        "sg": {"subtract_green": True},
        "cache": {"cache_bits": 3},
        "runs": {"use_runs": True},
        "pred": {"predictor": int(rng.integers(0, 14))},
        "ct": {"color_transform": (int(rng.integers(256)), int(rng.integers(256)), int(rng.integers(256)))},
        "pal": {"palette": True},
    }[feature]
    out = webp.decode_webp(webp.encode_webp(img, **kw))
    if channels == 3:
        out = out[:, :, :3]
    assert np.array_equal(out, img)


@settings(max_examples=25, deadline=None)
@given(
    hh=st.integers(2, 40), ww=st.integers(2, 40),
    band=st.integers(1, 16), seed=st.integers(0, 2**31 - 1),
    d=st.sampled_from([10, 20]),
    fake=st.sampled_from([0.0, 0.25, -0.5]),
)
def test_banded_kernel_equals_whole_grid_property(hh, ww, band, seed, d, fake):
    """For ANY grid/band size, concatenated halo-band outputs are
    byte-identical to the whole-grid kernel run."""
    import numpy as np

    from hgt2osm2_spark.kernels import marching

    rng = np.random.default_rng(seed)
    g = rng.integers(-80, 300, (hh, ww)).astype(np.int16)
    g[rng.random((hh, ww)) < 0.05] = marching.NOVALUE
    full = marching.extract_segments(g, d, fake)
    gb = g[::-1]
    parts = []
    for lo in range(0, hh - 1, band):
        hi = min(lo + band, hh - 1)
        a, b = max(lo - 1, 0), min(hi + 2, hh)
        seg = marching.extract_segments(
            np.ascontiguousarray(gb[a:b][::-1]), d, fake,
            cell_lo=lo - a, cell_hi=hi - a, y_base=a,
        )
        parts.append(seg)
    banded = np.concatenate(parts) if parts else full[:0]
    assert np.array_equal(banded.view(np.uint8), full.view(np.uint8))
