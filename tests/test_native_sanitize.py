"""The embedded C source must build warning-free and run clean under
AddressSanitizer + UndefinedBehaviorSanitizer.

The sanitized library is installed as ``native._LIB`` in a child
interpreter (libasan/libubsan preloaded, since CPython itself is not
instrumented), which then drives every C entry point with the existing
differential fuzz inputs: extraction batches (all three column configs),
wire shards (clean, corrupted, truncated, garbage), minhash rows, and
XY-cut layouts. Any ASan report or UB trap aborts the child. The
production build (``cc -O2``) is untouched. Skipped without ``cc``."""

import os
import shutil
import subprocess
import sys
import textwrap

import pytest

from ch_pdf_parse_spark import native

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(shutil.which("cc") is None,
                                reason="no C compiler")


def _compile(tmp_path, name, flags):
    src = tmp_path / "native.c"
    src.write_text(native._C_SOURCE)
    out = tmp_path / name
    proc = subprocess.run(
        ["cc", *flags, "-shared", "-fPIC", "-o", str(out), str(src)],
        capture_output=True, text=True, timeout=300)
    return proc, out


def test_builds_clean_with_warnings_as_errors(tmp_path):
    proc, _ = _compile(tmp_path, "warn.so",
                       ["-O2", "-Wall", "-Wextra", "-Werror"])
    assert proc.returncode == 0, proc.stderr


_CHILD_SCRIPT = textwrap.dedent("""
    import ctypes
    import random
    import sys

    sys.path.insert(0, REPO)
    import numpy as np
    import pyarrow as pa

    from ch_pdf_parse_spark import native

    lib = ctypes.CDLL(SO)
    LL = ctypes.POINTER(ctypes.c_longlong)
    lib.xy_cut.argtypes = [LL, ctypes.c_int, ctypes.c_longlong,
                           ctypes.c_longlong, LL]
    lib.xy_cut.restype = ctypes.c_int
    native._wire_protos(lib)
    native._ex_protos(lib)
    native._mh_protos(lib)
    native._LIB, native._TRIED = lib, True

    from tests import test_extract_native as ten
    from tests import test_kernel as tk
    from tests import test_native_minhash as tnm
    from tests import test_wire_native as twn

    rng = random.Random(20260821)
    for trial in range(120):  # the extract fuzz inputs, every projection
        batch = ten._batch(rng, rng.choice([1, 2, 7, 40]))
        for cols in (("spans", "markdown"), ("spans",), ("markdown",)):
            assert native.extract_batch(
                batch, "spans" in cols, "markdown" in cols) is not None
    for fuzz in (ten.test_native_extract_fixture_corpus,
                 tk.test_kernel_pathological,
                 tk.test_native_xy_cut_matches_python_fuzz,
                 twn.test_clean_shards_agree, twn.test_corrupted_shards_agree,
                 twn.test_truncated_shards_agree, twn.test_garbage_bytes_agree,
                 twn.test_magic_plus_garbage_agree,
                 twn.test_invalid_utf8_and_surrogate_payloads_agree,
                 tnm.test_hostile_rows, tnm.test_fuzz_random_texts,
                 tnm.test_other_shapes):
        fuzz()
    for ngram in (1, 3):  # all-empty column: no data buffer bytes at all
        emit, _ = native.minhash_text_batch(pa.array([""] * 5), ngram, 16)
        assert list(emit) == [ngram == 1] * 5
    # ...and with the zero-length data buffer handed over as NULL, which
    # the Arrow C data interface allows
    offs, mins = np.zeros(6, np.int32), np.empty((5, 16), np.int64)
    emit = np.zeros(5, np.uint8)
    assert lib.minhash_text(
        None, offs.ctypes.data_as(ctypes.POINTER(ctypes.c_int)), None, 5, 1,
        16, mins.ctypes.data_as(LL),
        emit.ctypes.data_as(ctypes.POINTER(ctypes.c_ubyte))) == 5
    assert emit.all()
    assert native._LIB is lib  # every call above ran the sanitized build
    print("SANITIZED-OK")
""")


def _runtime(name):
    path = subprocess.run(["cc", f"-print-file-name={name}"],
                          capture_output=True, text=True).stdout.strip()
    return path if os.path.isabs(path) and os.path.exists(path) else None


def test_fuzz_inputs_clean_under_asan_ubsan(tmp_path):
    asan, ubsan = _runtime("libasan.so"), _runtime("libubsan.so")
    if asan is None or ubsan is None:
        pytest.skip("compiler ships no ASan/UBSan runtime")
    proc, so = _compile(tmp_path, "san.so", [
        "-O1", "-g", "-fno-omit-frame-pointer",
        "-fsanitize=address,undefined", "-fno-sanitize-recover=undefined"])
    assert proc.returncode == 0, proc.stderr
    env = dict(os.environ, LD_PRELOAD=f"{asan}:{ubsan}",
               ASAN_OPTIONS="detect_leaks=0",
               UBSAN_OPTIONS="print_stacktrace=1")
    script = f"REPO = {REPO!r}\nSO = {str(so)!r}\n" + _CHILD_SCRIPT
    run = subprocess.run([sys.executable, "-c", script], env=env, cwd=tmp_path,
                         capture_output=True, text=True, timeout=1200)
    assert run.returncode == 0 and "SANITIZED-OK" in run.stdout, (
        run.returncode, run.stdout[-2000:], run.stderr[-6000:])
