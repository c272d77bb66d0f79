"""kernels.jpeg: pure-Python baseline JPEG codec.

The input_hint contract pins decoded-pixel fidelity for lossy formats
at PSNR >= 40 dB; interop is independently checked by decoding our
streams with Java ImageIO (present via JAVA_HOME in this container).
"""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile

import numpy as np
import pytest

from hgt2osm2_spark.kernels import codecs, jpeg


def _smooth_rgb(h: int, w: int, seed: int = 0) -> np.ndarray:
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    chans = []
    for _ in range(3):
        fx, fy = rng.uniform(7, 19, 2)
        chans.append(
            rng.uniform(70, 170)
            + rng.uniform(40, 80) * np.sin(xx / fx) * np.cos(yy / fy)
            + rng.uniform(-1, 1) * xx
        )
    return np.clip(np.rint(np.stack(chans, axis=2)), 0, 255).astype(np.uint8)


def test_zigzag_is_the_standard_order():
    # spot-check the generated scan order against the published table
    want_head = [0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5]
    assert jpeg.ZIGZAG[:16].tolist() == want_head
    assert sorted(jpeg.ZIGZAG.tolist()) == list(range(64))


def test_roundtrip_444_meets_psnr_contract():
    img = _smooth_rgb(65, 81)
    data = jpeg.encode_jpeg_rgb8(img, quality=95)
    dec = jpeg.decode_jpeg(data)
    assert dec.shape == img.shape and dec.dtype == np.uint8
    assert jpeg.psnr(img, dec) >= 40.0


def test_roundtrip_420_subsampled():
    img = _smooth_rgb(50, 34, seed=3)  # non-multiple-of-16 dims
    data = jpeg.encode_jpeg_rgb8(img, quality=95, subsample=True)
    dec = jpeg.decode_jpeg(data)
    assert dec.shape == img.shape
    assert jpeg.psnr(img, dec) >= 38.0  # replicate upsampling costs a little


def test_roundtrip_grayscale():
    g = _smooth_rgb(40, 56, seed=5)[:, :, 0]
    data = jpeg.encode_jpeg_gray8(g, quality=95)
    dec = jpeg.decode_jpeg(data)
    assert dec.shape == g.shape and dec.ndim == 2
    assert jpeg.psnr(g, dec) >= 40.0


def test_roundtrip_noise_stays_valid():
    """Max-entropy input: worst case for run-length coding — the stream
    must still be self-consistent (PSNR bound is loose by design)."""
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (24, 24, 3)).astype(np.uint8)
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg_rgb8(img, quality=98))
    assert dec.shape == img.shape
    assert jpeg.psnr(img, dec) >= 30.0


def test_quality_monotonic_in_size_and_psnr():
    img = _smooth_rgb(48, 48, seed=11)
    sizes, psnrs = [], []
    for q in (50, 75, 95):
        data = jpeg.encode_jpeg_rgb8(img, quality=q)
        sizes.append(len(data))
        psnrs.append(jpeg.psnr(img, jpeg.decode_jpeg(data)))
    assert sizes == sorted(sizes)
    assert psnrs == sorted(psnrs)


def test_codecs_dispatch_jpeg_luma():
    """codecs.decode('jpeg') returns the 2-D luma grid contract; the
    luma of a decoded RGB round trip tracks the original's luma."""
    img = _smooth_rgb(33, 33, seed=2)
    data = jpeg.encode_jpeg_rgb8(img, quality=95)
    grid = codecs.decode(data, "jpeg", 33, 33)
    assert grid.shape == (33, 33) and grid.dtype == np.int16
    want = codecs.rgb_to_gray_i16(img)
    assert codecs.psnr(want, grid) >= 40.0


def test_decoder_rejects_progressive_and_garbage():
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(b"not a jpeg at all")
    # flip SOF0 to SOF2 (progressive) in a valid stream
    data = bytearray(jpeg.encode_jpeg_gray8(np.zeros((8, 8), np.uint8)))
    idx = data.find(b"\xff\xc0")
    data[idx + 1] = 0xC2
    with pytest.raises(NotImplementedError):
        jpeg.decode_jpeg(bytes(data))


@pytest.mark.skipif(
    not (os.environ.get("JAVA_HOME") and shutil.which(
        os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "javac"))),
    reason="JDK not available",
)
def test_interop_java_imageio_decodes_our_stream():
    """Independent-decoder check: Java ImageIO must read our 4:4:4 and
    4:2:0 streams and agree with the original within the lossy budget.
    (Grayscale is excluded: ImageIO's getRGB gamma-maps gray to sRGB.)"""
    java_home = os.environ["JAVA_HOME"]
    img = _smooth_rgb(48, 56, seed=1)
    with tempfile.TemporaryDirectory() as td:
        src = os.path.join(td, "D.java")
        with open(src, "w") as f:
            f.write(
                """
import javax.imageio.ImageIO; import java.awt.image.BufferedImage; import java.io.*;
public class D { public static void main(String[] a) throws Exception {
  BufferedImage im = ImageIO.read(new File(a[0]));
  DataOutputStream o = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(a[1])));
  for (int y = 0; y < im.getHeight(); y++) for (int x = 0; x < im.getWidth(); x++) {
    int p = im.getRGB(x, y);
    o.writeByte((p>>16)&0xff); o.writeByte((p>>8)&0xff); o.writeByte(p&0xff);
  } o.close(); } }
"""
            )
        subprocess.run([os.path.join(java_home, "bin", "javac"), src],
                       check=True, cwd=td)
        for sub in (False, True):
            jf = os.path.join(td, "t.jpg")
            rf = os.path.join(td, "t.rgb")
            with open(jf, "wb") as f:
                f.write(jpeg.encode_jpeg_rgb8(img, quality=95, subsample=sub))
            subprocess.run([os.path.join(java_home, "bin", "java"), "D", jf, rf],
                           check=True, cwd=td)
            got = np.frombuffer(open(rf, "rb").read(), np.uint8).reshape(img.shape)
            assert jpeg.psnr(img, got) >= 40.0


def test_gray_jpeg_grid_is_its_plane():
    """codecs.decode_rgb8 stacks a grayscale JPEG's plane to 3 channels
    and codecs.decode takes the luma of that: the grid equals the plane
    itself, since the BT.601 luma of (g, g, g) rounds back to g for all
    256 values."""
    g = np.arange(256, dtype=np.uint8)
    assert np.array_equal(codecs.rgb_to_gray_i16(np.stack([g, g, g], axis=1)[None]),
                          g[None].astype(np.int16))
    img = np.tile(np.arange(256, dtype=np.uint8), (16, 1))
    img[8:] = img[8:, ::-1]
    data = jpeg.encode_jpeg_gray8(img, quality=90)
    plane = jpeg.decode_jpeg(data)
    assert plane.ndim == 2
    assert np.array_equal(codecs.decode_rgb8(data, "jpeg"), np.stack([plane] * 3, axis=2))
    assert np.array_equal(codecs.decode(data, "jpeg", 256, 16), plane.astype(np.int16))
