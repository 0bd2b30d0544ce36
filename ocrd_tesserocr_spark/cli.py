"""spark-submit entry point.

The reference exposes 10 click commands wrapping processors
(/root/reference/ocrd_tesserocr/cli.py:15-63); every one maps to a
subcommand/preset of this single job::

    ocrd-tesserocr-recognize       -> extract --preset recognize
    ocrd-tesserocr-segment         -> extract --preset segment
    ocrd-tesserocr-segment-region  -> extract --preset extract   (block level)
    ocrd-tesserocr-segment-table   -> extract --preset extract   (td/th blocks)
    ocrd-tesserocr-segment-line    -> extract --preset segment_line
    ocrd-tesserocr-segment-word    -> extract --preset segment_word
    ocrd-tesserocr-crop            -> extract --preset strict_main
    ocrd-tesserocr-deskew          -> extract --preset recognize (dir/rtl pass)
    ocrd-tesserocr-binarize        -> extract (script/style mask is always on)
    ocrd-tesserocr-fontshape       -> fontshape

    spark-submit --py-files dist/engine.zip tools/submit_entry.py \\
        extract --preset recognize --input /data/pages --output /data/extracted

(``tools/submit_scaling.sh`` builds ``dist/engine.zip`` from the package
and wraps this as the two-cluster-size N / 4N deployment recipe for the
scaling-efficiency evidence; the shim exists because spark-submit runs
its primary file as a parentless script.)

plus ``recompute`` (process_existing analogue) and ``lineage``.  On a real
cluster ``--master yarn/k8s`` + executor counts come from spark-submit;
this module only declares the logical plan.
"""

from __future__ import annotations

import argparse
import json
import sys

from .oracle import LEVELS
from .plans import PRESETS


def _add_param_args(sp) -> None:
    sp.add_argument(
        "--param",
        action="append",
        default=[],
        metavar="K=V",
        help="override one engine parameter (tesseract_parameters analogue; "
        "repeatable): typed names like min_paragraph_chars/model/auto_model "
        "override the preset, unknown names pass through opaquely",
    )
    sp.add_argument(
        "--rules",
        default=None,
        metavar="RULES.json",
        help="per-segment rule file (xpath_parameters/xpath_model analogue): "
        '{"block_rules": [[predicate, [[k, v], ...]], ...], '
        '"model_rules": [[predicate, model], ...]}',
    )


def apply_cli_params(params, param_opts, rules_path):
    """Fold --param/--rules onto a preset's ExtractParams, then run the
    driver-side validation so malformed input fails HERE, not in tasks."""
    from dataclasses import replace

    from .kernel import _validate

    if param_opts:
        pairs = []
        for kv in param_opts:
            if "=" not in kv:
                raise SystemExit(f"--param expects K=V, got {kv!r}")
            k, _, v = kv.partition("=")
            pairs.append((k, v))
        params = replace(params, extra=tuple(params.extra) + tuple(pairs))
    if rules_path:
        with open(rules_path) as f:
            spec = json.load(f)
        if "block_rules" in spec:
            params = replace(
                params,
                block_rules=tuple(
                    (expr, tuple((k, str(v)) for k, v in pairs))
                    for expr, pairs in spec["block_rules"]
                ),
            )
        if "model_rules" in spec:
            params = replace(
                params,
                model_rules=tuple((expr, m) for expr, m in spec["model_rules"]),
            )
    _validate(params)
    return params


def build_parser() -> argparse.ArgumentParser:
    presets = sorted(PRESETS)
    p = argparse.ArgumentParser(prog="ocrd-tesserocr-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    ex = sub.add_parser("extract", help="run an extraction stage")
    ex.add_argument("--preset", default="recognize", choices=presets)
    ex.add_argument("--input", required=True, help="pages parquet/table path")
    ex.add_argument("--output", required=True, help="output snapshot dir")
    ex.add_argument("--partitions", type=int, default=None)
    ex.add_argument("--no-resume", action="store_true")
    ex.add_argument("--master", default=None)
    _add_param_args(ex)

    rc = sub.add_parser(
        "recompute",
        help="re-recognize existing output at a lower level (process_existing)",
    )
    rc.add_argument("--preset", default="extract", choices=presets)
    rc.add_argument("--level", default="word", choices=LEVELS)
    rc.add_argument("--input", required=True, help="pages parquet/table path")
    rc.add_argument("--committed", required=True, help="existing stage output dir")
    rc.add_argument("--output", required=True, help="new stage output dir")
    rc.add_argument("--overwrite-text", action="store_true")
    rc.add_argument("--partitions", type=int, default=None)
    rc.add_argument("--master", default=None)
    _add_param_args(rc)

    fs = sub.add_parser(
        "fontshape", help="per-page inline style counts (TextStyle analogue)"
    )
    fs.add_argument("--input", required=True, help="pages parquet/table path")
    fs.add_argument("--output", required=True, help="output parquet path")
    fs.add_argument("--master", default=None)

    st = sub.add_parser(
        "stream",
        help="structured-streaming variants: watch a landing directory and "
        "run the identical kernel/operators with exactly-once checkpointed "
        "sinks",
    )
    st.add_argument(
        "--mode", choices=("extract", "dedup", "sessionize"), default="extract"
    )
    st.add_argument("--input", required=True,
                    help="watched parquet directory (landing zone)")
    st.add_argument("--output", required=True, help="append-mode parquet sink")
    st.add_argument("--checkpoint", required=True,
                    help="streaming checkpoint dir (resume point + state store)")
    st.add_argument("--preset", default="recognize", choices=presets)
    st.add_argument(
        "--continuous",
        action="store_true",
        help="keep running on new files (default: process the available "
        "backlog with availableNow, then stop — one snapshot's worth)",
    )
    st.add_argument("--max-files", type=int, default=16,
                    help="maxFilesPerTrigger (micro-batch sizing)")
    st.add_argument("--master", default=None)
    _add_param_args(st)

    ls = sub.add_parser("list-presets", help="list stage presets")

    lin = sub.add_parser("lineage", help="show lineage rows for an output dir")
    lin.add_argument("--output", required=True)
    lin.add_argument("--master", default=None)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    if args.cmd == "list-presets":
        for name, params in PRESETS.items():
            print(name, json.dumps(params.__dict__, default=sorted))
        return 0

    from pyspark.sql import SparkSession

    from .session import get_spark
    from .sources import read_parquet

    # embedding-friendly: only stop a session this invocation created.
    # getActiveSession() is thread-local, so also check the process-wide
    # default session: an embedder whose session lives on another thread
    # must not have it stopped out from under it when getOrCreate reuses it.
    preexisting = (
        SparkSession.getActiveSession() is not None
        or getattr(SparkSession, "_instantiatedSession", None) is not None
    )
    spark = get_spark(args.master)
    try:
        if args.cmd == "extract":
            from .pipeline import run_stage

            params = apply_cli_params(PRESETS[args.preset], args.param, args.rules)
            pages = read_parquet(spark, args.input)
            res = run_stage(
                spark,
                pages,
                args.output,
                stage=args.preset,
                params=params,
                num_partitions=args.partitions,
                resume=not args.no_resume,
            )
            print(json.dumps(res))
            return 0
        if args.cmd == "recompute":
            from .pipeline import recompute_stage

            res = recompute_stage(
                spark,
                read_parquet(spark, args.input),
                args.committed,
                args.output,
                level=args.level,
                params=apply_cli_params(
                    PRESETS[args.preset], args.param, args.rules
                ),
                overwrite_text=args.overwrite_text,
                num_partitions=args.partitions,
            )
            print(json.dumps(res))
            return 0
        if args.cmd == "stream":
            from .streaming import extract_stream, pages_stream, start_to_parquet

            if args.mode == "extract":
                params = apply_cli_params(
                    PRESETS[args.preset], args.param, args.rules
                )
                out = extract_stream(
                    pages_stream(spark, args.input, args.max_files), params
                )
            else:
                # extraction parameters have no meaning for the stateful
                # operators: fail fast instead of silently ignoring them
                # (--preset included — `--mode dedup --preset glyph` would
                # otherwise run as if the preset had been honored)
                if args.param or args.rules:
                    raise SystemExit(
                        f"--param/--rules only apply to --mode extract, "
                        f"not {args.mode!r}"
                    )
                if args.preset != "recognize":
                    raise SystemExit(
                        f"--preset only applies to --mode extract, "
                        f"not {args.mode!r}"
                    )
                if args.mode == "dedup":
                    from .streaming.stateful import dedup_stream

                    out = dedup_stream(
                        pages_stream(spark, args.input, args.max_files)
                    )
                else:
                    from .schemas import EVENTS_SCHEMA
                    from .streaming.stateful import sessionize_stream

                    # explicit schema: a batch-read inference would crash
                    # on an EMPTY landing directory — the normal initial
                    # state for a watcher
                    events = (
                        spark.readStream.schema(EVENTS_SCHEMA)
                        .option("maxFilesPerTrigger", args.max_files)
                        .parquet(args.input)
                    )
                    out = sessionize_stream(events)
            q = start_to_parquet(
                out, args.output, args.checkpoint,
                trigger_once=not args.continuous,
            )
            q.awaitTermination()
            print(json.dumps({
                "mode": args.mode,
                "output": args.output,
                "checkpoint": args.checkpoint,
            }))
            return 0
        if args.cmd == "fontshape":
            from .operators.fontshape import font_style_counts

            font_style_counts(read_parquet(spark, args.input)).write.mode(
                "overwrite"
            ).parquet(args.output)
            return 0
        if args.cmd == "lineage":
            from .pipeline import read_lineage

            read_lineage(spark, args.output).show(100, truncate=False)
            return 0
    finally:
        if not preexisting:
            spark.stop()
    return 1


if __name__ == "__main__":
    sys.exit(main())
