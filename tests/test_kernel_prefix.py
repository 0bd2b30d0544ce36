"""The kernel's compiled decode -> parse -> assemble prefix (``_cprefix.c``)
against ``oracle._assembled_blocks``, its build and fallback, and the
worker's zip-directory reuse (no Spark)."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import sysconfig
import textwrap

import pytest

from ocrd_tesserocr_spark import kernel
from ocrd_tesserocr_spark.corpus import (
    HOSTILE_FAMILIES,
    hostile_pages,
    pages_records,
    soup_pages,
)
from ocrd_tesserocr_spark.oracle import ExtractParams, _assembled_blocks
from tests.conftest import SF_ORACLE, SF_SMOKE, pages_batch

#: soups for the differential test, seeded apart from corpus.SOUP_SEED
DIFF_SOUPS = 20_000
DIFF_SOUP_SEED = 7


def _outcome(prefix, html):
    """The prefix's tuples, or the type of the exception it raised."""
    try:
        return prefix(html)
    except Exception as e:  # the kernel turns any exception into a failure row
        return type(e)


def _payloads(name: str) -> list:
    if name == "sf0.001":
        return [r["html"] for r in pages_records(SF_SMOKE)]
    if name == "sf0.01":
        return [r["html"] for r in pages_records(SF_ORACLE)]
    if name == "hostile":
        pages = [r["html"] for r in hostile_pages()]
        pages += [("<p>%s</p>" % f(300)).encode() for f in HOSTILE_FAMILIES.values()]
        # str payloads of each PyUnicode kind (1, 2 and 4 bytes per char),
        # and bytes-likes that take the pure-Python path
        pages += ["<p>caf\xe9 <b>x</b></p>", "<p dir=rtl>אב 中</p>",
                  "<p>\U0001f600 <i>é</i></p>", bytearray(b"<p>ba</p>"),
                  memoryview(b"<p>mv</p>"), b"<p>\xed\xa0\x80 surrogate</p>", 42]
        return pages
    return [r["html"] for r in soup_pages(DIFF_SOUPS, DIFF_SOUP_SEED)]


def test_compiled_prefix_loads_where_gcc_and_python_h_exist():
    """No silent fallback: with gcc and the interpreter's headers present
    the kernel walks with the compiled prefix."""
    have = shutil.which("gcc") is not None and os.path.exists(
        os.path.join(sysconfig.get_paths()["include"], "Python.h"))
    assert kernel.PREFIX_IMPL == ("c" if have else "python")
    assert (kernel._prefix is _assembled_blocks) == (kernel.PREFIX_IMPL == "python")


@pytest.mark.parametrize("corpus", ["sf0.001", "sf0.01", "hostile", "soup"])
def test_prefix_equals_oracle_prefix(corpus):
    """Equal tuples, or the same exception type, as
    ``oracle._assembled_blocks`` on every document."""
    diff = [
        i for i, html in enumerate(_payloads(corpus))
        if _outcome(kernel._prefix, html) != _outcome(_assembled_blocks, html)
    ]
    assert not diff, "%d documents differ, first %s" % (len(diff), diff[:5])


def test_failed_build_falls_back_to_the_python_prefix(tmp_path):
    """A missing compiler or a source that does not compile leaves the
    kernel on ``oracle._assembled_blocks``."""
    src = tmp_path / "broken.c"
    src.write_text("this is not C\n")
    build = tmp_path / "build"
    assert kernel.load_prefix(str(src), str(build)) == (_assembled_blocks, "python")
    assert kernel.load_prefix(cc=str(tmp_path / "no-such-cc"), build_dir=str(build)) == (
        _assembled_blocks, "python")
    assert kernel.load_prefix(str(tmp_path / "missing.c"), str(build)) == (
        _assembled_blocks, "python")
    assert not [p for p in os.listdir(build) if p.endswith(".tmp")]


def test_build_writes_one_module_named_by_the_source(tmp_path):
    """A fresh build directory gets one module named by the source's
    sha256 and no temp file; a second load reuses it."""
    prefix, impl = kernel.load_prefix(build_dir=str(tmp_path))
    assert impl == kernel.PREFIX_IMPL
    if impl == "python":
        return
    assert prefix is not _assembled_blocks
    [so] = os.listdir(tmp_path)
    assert so.startswith("_cprefix-") and so.endswith(sysconfig.get_config_var("EXT_SUFFIX"))
    mtime = os.stat(tmp_path / so).st_mtime_ns
    assert kernel.load_prefix(build_dir=str(tmp_path))[1] == "c"
    assert os.listdir(tmp_path) == [so] and os.stat(tmp_path / so).st_mtime_ns == mtime


@pytest.mark.parametrize("level", ["block", "word", "glyph"])
def test_kernel_output_is_the_same_on_either_prefix(level, monkeypatch):
    """The kernel's batch is the same with the compiled and with the
    fallback prefix."""
    rb = pages_batch(
        pages_records(SF_SMOKE)[:200] + hostile_pages() + soup_pages(300, 3))
    fn = kernel.make_extract_arrow_fn(ExtractParams(textequiv_level=level))
    [got] = fn(iter([rb]))
    monkeypatch.setattr(kernel, "_prefix", _assembled_blocks)
    [want] = fn(iter([rb]))
    assert got.equals(want)


_ZIP_CHECK = textwrap.dedent('''
    import importlib, os, sys, zipfile, zipimport

    archive = sys.argv[1]
    names = ["zpkg/__init__.py"] + [
        "zpkg/%s/%s" % (s, f) for s in "abcd" for f in ("__init__.py", "m.py")]

    def write(extra=()):
        with zipfile.ZipFile(archive + ".new", "w") as z:
            for n in names + list(extra):
                z.writestr(n, "X = %r\\n" % n)
        os.replace(archive + ".new", archive)

    write()
    sys.path.insert(0, archive)
    import zpkg.a.m, zpkg.b.m, zpkg.c.m, zpkg.d.m
    importers = [v for k, v in sys.path_importer_cache.items()
                 if k.startswith(archive) and isinstance(v, zipimport.zipimporter)]
    assert len(importers) >= 5, importers

    reads = []
    read_directory = zipimport._read_directory
    zipimport._read_directory = lambda path: reads.append(path) or read_directory(path)
    importlib.invalidate_caches()
    plain = reads.count(archive)

    from ocrd_tesserocr_spark.kernel import _reuse_zip_directories
    _reuse_zip_directories()
    _reuse_zip_directories()
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    kept = reads.count(archive)

    write(["zpkg/a/new.py"])
    importlib.invalidate_caches()
    import zpkg.a.new
    assert zpkg.a.new.X == "zpkg/a/new.py", zpkg.a.new.X
    print(plain, kept)
''')


def test_zip_directories_are_reread_only_when_the_archive_changes(tmp_path):
    """With the worker's zip-directory reuse installed (Python < 3.12),
    repeated ``importlib.invalidate_caches()`` calls do not re-read an
    unchanged archive, and rewriting it makes a new module importable."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _ZIP_CHECK, str(tmp_path / "pkgs.zip")],
        capture_output=True, text=True, timeout=120,
        env={**os.environ, "PYTHONPATH": repo},
    )
    assert out.returncode == 0, out.stderr
    plain, kept = map(int, out.stdout.split())
    if sys.version_info < (3, 12):
        # one re-read per cached importer without it; with it, the one
        # re-read that records the archive's stat key
        assert plain >= 5 and kept == 1, (plain, kept)
    else:
        assert kept == plain == 0, (plain, kept)
