"""sha256 digests of the extraction kernel's Arrow output, without Spark.

For every preset x corpus, runs ``kernel.make_extract_arrow_fn(preset)``
over the corpus pages in url order (8192-row batches, Spark's
``maxRecordsPerBatch``) and hashes each output row's JSON form, so the
digest depends on the values only, not on Arrow buffer layout.  Run it
before and after a kernel change: every line must stay the same.

Each batch is also compared with the reference batch built from
``oracle.extract_document`` dicts (``tests.conftest.dict_path_batch``).

    python tools/kernel_digest.py                 # sf0.001, sf0.01, hostile
    python tools/kernel_digest.py SF_DIR [...]    # other sf directories

Prints ``<preset> <corpus> <rows> <sha256> oracle=match|DIFF`` per line and
exits 1 if any line reads ``DIFF``.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BATCH_ROWS = 8192


def digest(fn, params, recs: list) -> tuple[str, bool]:
    """(sha256 of the kernel's output rows, whether every batch equals the
    oracle's reference batch)."""
    import pyarrow as pa

    from tests.conftest import dict_path_batch

    h = hashlib.sha256()
    same = True
    schema = pa.schema([("url", pa.string()), ("html", pa.binary())])
    for i in range(0, len(recs), BATCH_ROWS):
        chunk = recs[i:i + BATCH_ROWS]
        rb = pa.RecordBatch.from_pydict(
            {"url": [r["url"] for r in chunk], "html": [r["html"] for r in chunk]},
            schema=schema,
        )
        outs = list(fn(iter([rb])))
        for out in outs:
            for row in out.to_pylist():
                h.update(json.dumps(row, ensure_ascii=False).encode("utf-8"))
                h.update(b"\n")
        exp = dict_path_batch(rb, params)
        same = same and pa.Table.from_batches(outs, exp.schema).equals(
            pa.Table.from_batches([exp])
        )
    return h.hexdigest(), same


def main(argv: list) -> int:
    from ocrd_tesserocr_spark.corpus import hostile_pages, pages_records
    from ocrd_tesserocr_spark.kernel import make_extract_arrow_fn
    from ocrd_tesserocr_spark.plans import PRESETS

    if argv:
        sf_dirs = argv
    else:
        from tests.conftest import SF_ORACLE, SF_SMOKE

        sf_dirs = [SF_SMOKE, SF_ORACLE]
    corpora = {
        os.path.basename(d.rstrip("/")): sorted(pages_records(d), key=lambda r: r["url"])
        for d in sf_dirs
    }
    corpora["hostile"] = hostile_pages()
    all_same = True
    for preset, params in sorted(PRESETS.items()):
        fn = make_extract_arrow_fn(params)
        for name, recs in corpora.items():
            sha, same = digest(fn, params, recs)
            all_same = all_same and same
            print(preset, name, len(recs), sha,
                  "oracle=" + ("match" if same else "DIFF"), flush=True)
    return 0 if all_same else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
