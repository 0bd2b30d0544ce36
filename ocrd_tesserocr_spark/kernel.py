"""Arrow-batched extraction kernel for ``mapInArrow``.

The reference holds its entire recognition loop inside one C++ call per
segment (``Recognize()``, /root/reference/ocrd_tesserocr/recognize.py:486);
our contract holds it inside Arrow batches: the JVM hands us columnar
batches, we run the per-document kernel over each batch, and hand columnar
results back.  No per-row Python exists at the Spark API surface — the only
rows ever materialized live inside a batch, exactly like the reference's
per-page C++ kernel inside its page loop.

Model-load amortization (recognize.py:143,200-203 does one InitFull reused
across pages) maps to module-level state reused across batches by the
long-lived Python worker processes Spark keeps per executor.
"""

from __future__ import annotations

from .oracle import ExtractParams, extract_document


def _partition_id() -> int:
    try:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        return ctx.partitionId() if ctx is not None else -1
    except Exception:
        return -1


def _validate(params: ExtractParams) -> None:
    from .oracle import _coerce_overrides, compile_predicate, resolve_params

    resolve_params(params)
    for expr, pairs in params.block_rules:
        compile_predicate(expr)
        _coerce_overrides(pairs)
    for expr, _model in params.model_rules:
        compile_predicate(expr)


def make_extract_arrow_fn(params: ExtractParams):
    """Bind params into the mapInArrow function (facade pattern: the
    reference's processor subclasses are parameter presets over one core,
    ocrd_tesserocr/segment.py:17-24).

    Each output RecordBatch is built directly with declared Arrow types
    (``pa.array(..., type=...)`` from the oracle's plain dicts), so the
    nested blocks->lines->words(->glyphs) conversion stays in Arrow's C++
    builders; routing it through pandas object columns cost ~10x on the
    word level (measured: 13s block vs 147s word on 40k pages).

    Config validation happens HERE, on the driver, before any job
    launches: a malformed ``extra`` value or rule predicate raises at plan
    time instead of failing executor tasks (the analogue of the
    reference's JSON-Schema parameter validation at processor init)."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    from .schemas import EXTRACTED_SCHEMA

    _validate(params)
    aschema = to_arrow_schema(EXTRACTED_SCHEMA)
    blocks_t = aschema.field("blocks").type
    feats_t = aschema.field("features").type

    def fn(it):
        pid = _partition_id()
        for rb in it:
            names = rb.schema.names
            urls = rb.column(names.index("url"))
            htmls = rb.column(names.index("html")).to_pylist()
            recs = [extract_document(h, params) for h in htmls]
            n = len(recs)
            yield pa.RecordBatch.from_arrays(
                [
                    urls.cast(pa.string()) if urls.type != pa.string() else urls,
                    pa.array([r["text"] for r in recs], type=pa.string()),
                    pa.array([r["conf"] for r in recs], type=pa.float64()),
                    pa.array([r["blocks"] for r in recs], type=blocks_t),
                    pa.array([r["features"] for r in recs], type=feats_t),
                    pa.array([r["failed"] for r in recs], type=pa.bool_()),
                    pa.array([pid] * n, type=pa.int32()),
                ],
                schema=aschema,
            )

    return fn
