"""Building the native library: cold workers racing on one cache, a
worker that imports the package from the ``--py-files`` zip, and a cold
``job.py`` run that must compile once.

All drive child interpreters on a fresh ``TMPDIR``, so every child starts
with an empty build cache. Skipped without ``cc``."""

import os
import shlex
import shutil
import subprocess
import sys
import textwrap
import zipfile

import pytest

from ch_pdf_parse_spark.packaging import build_zip

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(shutil.which("cc") is None,
                                reason="no C compiler")

_RACER = textwrap.dedent("""
    import os, sys, time
    sys.path.insert(0, REPO)
    import ch_pdf_parse_spark  # noqa: F401  (the package, not native)
    print("ready", flush=True)
    while not os.path.exists(BARRIER):
        time.sleep(0.001)
    from ch_pdf_parse_spark import native
    print("available", native.available(), flush=True)
""")


def test_cold_workers_racing_on_one_cache_all_load(tmp_path):
    """Six interpreters, released together on an empty cache, must each
    load the library: none may compile or load a file another is
    writing."""
    n_children, rounds = 6, 10
    failed = []
    for r in range(rounds):
        tmpdir = tmp_path / f"round{r}"
        tmpdir.mkdir()
        barrier = tmpdir / "go"
        script = (f"REPO = {REPO!r}\nBARRIER = {str(barrier)!r}\n"
                  + _RACER)
        env = dict(os.environ, TMPDIR=str(tmpdir))
        env.pop("CHPDF_NATIVE", None)
        kids = [subprocess.Popen([sys.executable, "-c", script], env=env,
                                 cwd=tmpdir, stdout=subprocess.PIPE,
                                 stderr=subprocess.PIPE, text=True)
                for _ in range(n_children)]
        try:
            for k in kids:
                assert k.stdout.readline().strip() == "ready"
            barrier.touch()
            for k in kids:
                out, err = k.communicate(timeout=300)
                if k.returncode != 0 or out.strip() != "available True":
                    failed.append((r, out, err[-2000:]))
        finally:
            for k in kids:
                k.kill()
                k.wait()
    assert not failed, (len(failed), failed[:3])


_ZIP_CHILD = textwrap.dedent("""
    import sys
    sys.path[:] = [ZIP] + [p for p in sys.path
                           if p not in ("", ".", REPO)]
    import pyarrow as pa

    from ch_pdf_parse_spark import core, fixtures, native

    assert native.__file__.startswith(ZIP), native.__file__
    assert native.available()
    docs = [fixtures.generate_document(i, 42, oversized=(i % 7 == 3))
            for i in range(30)]
    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    batch = pa.RecordBatch.from_arrays(
        [pa.array([b.doc_id for b in docs], pa.string()),
         pa.array([[{"kind": k, "text": t, "media_ref": m, "offset": o}
                    for k, t, m, o in b.spans] for b in docs],
                  pa.list_(span_t))],
        ["doc_id", "spans"])
    got = native.extract_batch(batch, True, True)
    assert got is not None
    for i, b in enumerate(docs):
        recs, md = core.extract_document(b.spans)
        assert got.column("spans")[i].as_py() == [
            {"kind": k, "text": t, "media_ref": m, "offset": o}
            for k, t, m, o in recs], b.doc_id
        assert got.column("markdown")[i].as_py() == md, b.doc_id
    print("ZIP-OK")
""")


def test_worker_builds_native_from_submit_zip(tmp_path):
    """A worker with only the submit zip on ``sys.path`` (cwd elsewhere,
    empty build cache) compiles ``native.c`` from the zip and extracts
    exactly what ``core`` does."""
    zpath = build_zip(str(tmp_path / "ch_pdf_parse_spark.zip"))
    with zipfile.ZipFile(zpath) as z:
        assert "ch_pdf_parse_spark/native.c" in z.namelist()
    cache = tmp_path / "tmp"
    cache.mkdir()
    env = dict(os.environ, TMPDIR=str(cache))
    env.pop("CHPDF_NATIVE", None)
    env.pop("PYTHONPATH", None)
    script = f"ZIP = {zpath!r}\nREPO = {REPO!r}\n" + _ZIP_CHILD
    run = subprocess.run([sys.executable, "-c", script], env=env,
                         cwd=tmp_path, capture_output=True, text=True,
                         timeout=300)
    assert run.returncode == 0 and "ZIP-OK" in run.stdout, (
        run.stdout[-2000:], run.stderr[-4000:])


def test_job_compiles_native_once(corpus_dir, tmp_path):
    """A cold ``job.py`` run (empty build cache) compiles ``native.c``
    exactly once: the driver builds it before the first bucket, and every
    Python worker loads that build. ``cc`` is a wrapper first on ``PATH``
    that logs each call and runs the real compiler."""
    import json

    import pyarrow.parquet as pq

    bindir = tmp_path / "bin"
    bindir.mkdir()
    log = tmp_path / "cc.log"
    wrapper = bindir / "cc"
    wrapper.write_text(f'#!/bin/sh\necho "$*" >> {shlex.quote(str(log))}\n'
                       f'exec {shlex.quote(shutil.which("cc"))} "$@"\n')
    wrapper.chmod(0o755)
    cache = tmp_path / "tmp"
    cache.mkdir()
    env = dict(os.environ, TMPDIR=str(cache),
               PATH=f"{bindir}{os.pathsep}{os.environ['PATH']}")
    env.pop("CHPDF_NATIVE", None)
    # four files in four buckets: four tasks, so four cold Python workers
    # start together
    docs = pq.read_table(os.path.join(corpus_dir, "documents.parquet"))
    src = tmp_path / "src"
    src.mkdir()
    step = -(-docs.num_rows // 4)
    for i in range(4):
        pq.write_table(docs.slice(i * step, step),
                       str(src / f"part-{i}.parquet"))
    run = subprocess.run(
        [sys.executable, os.path.join(REPO, "job.py"), "--input", str(src),
         "--output", str(tmp_path / "out"), "--buckets", "4",
         "--cores", "4"],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=600)
    assert run.returncode == 0, run.stderr[-4000:]
    got = json.loads(run.stdout.strip().splitlines()[-1])
    assert got["docs"] == docs.num_rows > 0
    calls = log.read_text().splitlines()
    assert len(calls) == 1, calls
