"""ISO-BMFF (MP4) container tests — kernels/mp4.py."""

import struct

import numpy as np
import pytest

from hgt2osm2_spark.kernels import jpeg, mp4
from hgt2osm2_spark.sources import synthetic


def _clip(n=5, size=33):
    px = [synthetic.video_frame(1, t, size) for t in range(n)]
    return [jpeg.encode_jpeg_rgb8(f, quality=95) for f in px], size


def test_mux_demux_byte_exact():
    frames, size = _clip()
    data = mp4.mux_mp4_mjpeg(frames, size, size, fps=10)
    info = mp4.demux_mp4(data)
    assert info["codec"] == "jpeg"
    assert (info["w"], info["h"]) == (size, size)
    assert info["n_frames"] == len(frames)
    assert info["frames"] == frames  # byte-exact sample round trip
    assert info["duration"] == len(frames) * 1000
    assert info["timescale"] == 10000
    px = jpeg.decode_jpeg(info["frames"][2])
    assert px.shape == (size, size, 3)


def test_demux_multi_chunk_layout():
    """The demuxer resolves GENERIC sample tables, not just the
    writer's one-chunk layout: rebuild the same samples as 2 chunks
    with an explicit stsc run list and re-demux."""
    frames, size = _clip(6)
    # hand-build: chunk 1 holds 4 samples, chunk 2 holds 2
    ftyp = mp4._box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")
    c1, c2 = b"".join(frames[:4]), b"".join(frames[4:])
    mdat = mp4._box(b"mdat", c1 + c2)
    off1 = len(ftyp) + 8
    off2 = off1 + len(c1)
    base = mp4.mux_mp4_mjpeg(frames, size, size)  # steal its moov, patch tables
    moov_info = mp4._find(base, [b"moov"], 0, len(base))
    moov = base[moov_info[0] - 8 : moov_info[1]]
    # patch stsc (1 run: chunks 1.. -> 4/chunk until chunk 2 -> 2) + stco
    stsc_new = mp4._full(b"stsc", 0, 0, struct.pack(">I", 2)
                         + struct.pack(">III", 1, 4, 1)
                         + struct.pack(">III", 2, 2, 1))
    stco_new = mp4._full(b"stco", 0, 0, struct.pack(">III", 2, off1, off2))
    old_stsc = mp4._full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, 6, 1))
    old_stco = mp4._full(b"stco", 0, 0, struct.pack(">II", 1, off1))
    assert old_stsc in moov and old_stco in moov
    moov = moov.replace(old_stsc, stsc_new).replace(old_stco, stco_new)
    # fix enclosing box sizes: rebuild moov length fields by re-wrapping
    # (sizes changed by +12 (stco) +12 (stsc) bytes)
    delta = (len(stsc_new) + len(stco_new)) - (len(old_stsc) + len(old_stco))

    def bump(buf, fourcc):
        i = buf.find(fourcc) - 4
        (sz,) = struct.unpack(">I", buf[i : i + 4])
        return buf[:i] + struct.pack(">I", sz + delta) + buf[i + 4 :]

    for cc in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
        moov = bump(moov, cc)
    info = mp4.demux_mp4(ftyp + mdat + moov)
    assert info["frames"] == frames


def test_h264_codec_raises_honestly(spark):
    """An avc1 track demuxes (container is real) but pixel decode names
    the codec in its refusal."""
    from hgt2osm2_spark.ops import multimodal

    frames, size = _clip(2)
    data = mp4.mux_mp4_mjpeg(frames, size, size)
    patched = data.replace(b"jpeg", b"avc1", 1)
    info = mp4.demux_mp4(patched)
    assert info["codec"] == "avc1" and info["frames"] == frames

    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame(
        [{"image_id": "h264clip", "bytes": patched, "fmt": "mp4"}]
    ))
    with pytest.raises(Exception) as ei:
        multimodal.video_frame_features(df).collect()
    assert "avc1" in str(ei.value)


def test_corrupt_mp4_raises():
    frames, size = _clip(2)
    data = mp4.mux_mp4_mjpeg(frames, size, size)
    with pytest.raises(ValueError):
        mp4.demux_mp4(data[:40])
    with pytest.raises(ValueError):
        mp4.demux_mp4(b"\x00" * 64)


def test_mp4_rows_flow_through_video_features(spark):
    from hgt2osm2_spark.ops import multimodal

    out = multimodal.video_frame_features(
        synthetic.mp4s_df(spark, n_clips=2, n_frames=4)
    ).collect()
    assert len(out) == 8
    assert all(0.0 <= r["mean_luma"] <= 255.0 for r in out)


def test_video_frames_demuxes_mp4(spark):
    """video_frames and video_frame_features share one container demux:
    an MJPEG mp4 gives demux_mp4's frames, an avc1 one raises with its
    codec named."""
    import pandas as pd

    from hgt2osm2_spark.ops import multimodal

    frames, size = _clip(5)
    data = mp4.mux_mp4_mjpeg(frames, size, size)
    df = spark.createDataFrame(pd.DataFrame(
        [{"image_id": "clip", "bytes": data, "fmt": "mp4"}]))
    got = multimodal.video_frames(df, every=2).orderBy("frame_idx").collect()
    assert [r["frame_idx"] for r in got] == [0, 2, 4]
    assert [bytes(r["frame"]) for r in got] == mp4.demux_mp4(data)["frames"][::2]

    h264 = spark.createDataFrame(pd.DataFrame(
        [{"image_id": "h264clip", "bytes": data.replace(b"jpeg", b"avc1", 1), "fmt": "mp4"}]))
    with pytest.raises(Exception) as ei:
        multimodal.video_frames(h264).collect()
    assert "avc1" in str(ei.value)
