"""The one lazy gcc build/load for the optional C kernel fast paths.

Every hot per-cell or per-polyline loop of the engine (marching
triangles, stitching, post-production, the terrain/mosaic drainage
stack) has a C twin in a ``*_cext.py`` module.  They all share this
contract:

- The PYTHON PATH STAYS THE ORACLE AND THE FALLBACK: each caller runs
  the pure-Python/NumPy twin whenever the C path is unavailable or a C
  call declines (returns None, e.g. on an overflow guard), and tests
  assert the two produce bit-identical output on reference fixtures,
  random heightfields and adversarial inputs.  This is the same
  golden-twin contract that keeps the pure-Python image codecs safe to
  swap for libjpeg/libwebp at fleet scale (see COVERAGE.md).
- No build at import time: ``load`` returns a handle that compiles on
  first use with the system gcc and caches the .so in the user cache
  dir under a hash of the source, the flags and the gcc version, so
  ``spark-submit --py-files`` zipimport deploys keep working (each
  executor Python worker builds once, then mmaps).
- ``-ffp-contract=off`` forbids FMA contraction so every double op in
  the C twins matches the Python/NumPy IEEE-754 sequence exactly; no
  -ffast-math, ever.
- ``HGT2OSM2_NO_CKERNEL=1`` disables every C path.  It is read at first
  use, not at import.
- An unavailable C path says why: the handle records a ``reason``
  (the env pin, gcc not found, the compiler's stderr tail, or the load
  error) and warns once per process unless the env pin asked for it.
  Only build and load failures are caught; a missing symbol or a bad
  binding is a bug and raises.  ``status()`` reports every kernel.

Callers keep the handle in a module global and reach it from plain
module-level functions (``available``, ``run``, ...), so patching those
functions steers every call, and no UDF closure captures the
unpicklable ``CDLL``.
"""

from __future__ import annotations

import ctypes
import functools
import hashlib
import os
import subprocess
import tempfile
import warnings

ENV_PIN = "HGT2OSM2_NO_CKERNEL"

#: gcc flags of every C twin (-ffp-contract=off is what keeps them
#: bit-identical to the Python twins)
CFLAGS = ("-O2", "-ffp-contract=off", "-fPIC", "-shared")


@functools.cache
def _gcc_version() -> str:
    return subprocess.run(
        ["gcc", "--version"], check=True, capture_output=True, timeout=30,
    ).stdout.decode(errors="replace")


def build_lib(name: str, source: str) -> ctypes.CDLL:
    """Compile `source` and load it.  The .so is cached under a hash of
    the source, the gcc flags and `gcc --version`, so a changed flag or
    compiler builds afresh instead of loading a stale build."""
    key = "\0".join([source, *CFLAGS, _gcc_version()])
    digest = hashlib.md5(key.encode()).hexdigest()[:16]
    cache_dir = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    so_dir = os.path.join(cache_dir, "hgt2osm2_spark")
    so_path = os.path.join(so_dir, f"{name}_{digest}.so")
    if not os.path.exists(so_path):
        os.makedirs(so_dir, exist_ok=True)
        # build INSIDE so_dir so the final os.replace is a same-filesystem
        # atomic rename (a /tmp tempdir raises EXDEV on tmpfs hosts, which
        # would turn every C path off with a cross-device-link reason)
        with tempfile.TemporaryDirectory(dir=so_dir) as td:
            src = os.path.join(td, f"{name}.c")
            with open(src, "w") as f:
                f.write(source)
            tmp_so = os.path.join(td, f"{name}.so")
            subprocess.run(
                ["gcc", *CFLAGS, "-o", tmp_so, src],
                check=True, capture_output=True, timeout=120,
            )
            # atomic publish — concurrent executor workers race benignly
            os.replace(tmp_so, so_path)
    return ctypes.CDLL(so_path)


def _why(e: Exception) -> str:
    if isinstance(e, subprocess.CalledProcessError):
        tail = (e.stderr or b"").decode(errors="replace").strip()[-600:]
        return f"gcc failed (exit {e.returncode}): {tail}"
    if isinstance(e, FileNotFoundError) and e.filename == "gcc":
        return "gcc not found on PATH"
    return f"build/load failed: {type(e).__name__}: {e}"


class _Kernel:
    """Lazy handle on one C twin: ``lib`` is the bound ``CDLL``, or None
    with ``reason`` saying why the Python twin runs instead."""

    def __init__(self, name: str, source: str, sigs: dict) -> None:
        self.name, self.source, self.sigs = name, source, sigs
        self.reason: str | None = None
        self._lib: ctypes.CDLL | None = None

    @property
    def lib(self) -> ctypes.CDLL | None:
        if self._lib is None and self.reason is None:  # not loaded yet
            self._load()
        return self._lib

    def _load(self) -> None:
        if os.environ.get(ENV_PIN):
            self.reason = f"disabled by {ENV_PIN}"
            return
        try:
            lib = build_lib(self.name, self.source)
        except (OSError, subprocess.SubprocessError) as e:
            self.reason = _why(e)
            warnings.warn(
                f"C kernel {self.name!r} unavailable, running its Python "
                f"twin: {self.reason}", RuntimeWarning, stacklevel=3,
            )
            return
        for sym, (restype, argtypes) in self.sigs.items():
            fn = getattr(lib, sym)
            fn.restype = restype
            if argtypes is not None:
                fn.argtypes = argtypes
        self._lib = lib


def load(name: str, source: str, sigs: dict) -> _Kernel:
    """Handle on the C twin `name` built from `source`; nothing is built
    until first use.  `sigs` maps each C symbol to (restype, argtypes);
    argtypes None leaves ctypes' default conversion."""
    return _Kernel(name, source, sigs)


def status() -> dict[str, str | None]:
    """{kernel: None when its C path is on, else the reason} for every C
    twin, building each on first use."""
    from . import marching_cext, postprocess_cext, stitch_cext, terrain_cext

    out = {}
    for m in (marching_cext, stitch_cext, postprocess_cext, terrain_cext):
        m.available()
        out[m._k.name] = m._k.reason
    return out
