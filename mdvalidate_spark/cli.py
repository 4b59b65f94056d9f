"""spark-submit entry point (the `mdv schema.md input.md [--fast-fail]` CLI
reborn, reference: src/main.rs:16-48 / cmd.rs:136-179).

Launch on a cluster (build the artifacts with `python tools/package_pyfiles.py`
— spark-submit takes a driver script, not a module):

    spark-submit --py-files dist/mdvalidate_spark.zip dist/submit_main.py \\
        --spec spec.json --table s3://bucket/images \\
        --dim dim_source=s3://bucket/dims/source \\
        --checkpoint s3://bucket/ckpt/run42 --run-id run42 \\
        --output s3://bucket/results/run42 [--fast-fail] [--batch-size 16]

Local sanity run:

    python -m mdvalidate_spark.cli --spec spec.json --table /data/images

Suggestion mode (inverse direction — draft the first spec FROM the data,
then edit it down; operators/suggest.py):

    python -m mdvalidate_spark.cli --suggest-key image_id \\
        --spec drafted.json --table /data/images

Exit code 0 = all rules pass, 1 = violations (main.rs:86-90); compile errors
print a typed SchemaError and exit 2.
"""

from __future__ import annotations

import argparse
import sys

from .errors import SchemaError
from .run import ValidationRun
from .session import get_spark
from .spec_io import load_spec


def parse_args(argv=None):
    p = argparse.ArgumentParser(prog="mdvalidate-spark", description=__doc__)
    p.add_argument(
        "--spec",
        default=None,
        help="JSON constraint spec file (required except with "
        "--layout-report)",
    )
    p.add_argument(
        "--layout-report",
        action="store_true",
        help="audit-only mode: print the parquet small-file/compaction "
        "report for --table as one JSON line (footer metadata only, no "
        "validation run; sources/layout.py) and exit",
    )
    p.add_argument(
        "--column-report",
        action="store_true",
        help="audit-only mode: print the per-COLUMN physical report for "
        "--table as one JSON line — compressed/uncompressed bytes, "
        "compression ratio, codecs, encodings, chunks without min/max "
        "stats (unprunable) — footer metadata only (sources/layout.py "
        "column_report) and exit",
    )
    p.add_argument(
        "--table",
        required=True,
        help="input table: parquet dir/URI, catalog identifier, or "
        "iceberg:<catalog.db.table> (see sources/table_io.py)",
    )
    p.add_argument(
        "--dim",
        action="append",
        default=[],
        metavar="NAME=PATH",
        help="dimension table for ref rules (repeatable)",
    )
    p.add_argument("--checkpoint", help="manifest/lineage checkpoint dir (resume)")
    p.add_argument("--output", help="results sink: parquet dir/URI, or iceberg:<catalog.db.prefix> (writes tables <prefix>_violations/_metrics/_manifest)")
    p.add_argument("--run-id", default=None)
    p.add_argument("--batch-size", type=int, default=None, help="partitions per batch")
    p.add_argument("--fast-fail", action="store_true")
    p.add_argument(
        "--max-violations-per-rule",
        type=int,
        default=None,
        metavar="N",
        help="bound materialized violation rows to a deterministic sample of "
        "N per (rule, partition); exact totals land in metrics as "
        "violations_total (overrides the spec)",
    )
    p.add_argument(
        "--smoke-fraction",
        type=float,
        default=None,
        metavar="F",
        help="smoke mode: validate a deterministic md5-keyed sample of "
        "fraction F in (0, 1] and append per-rule rate estimates with "
        "Wilson 95%% bounds to metrics (run.smoke_validate)",
    )
    p.add_argument("--master", default=None, help="override master (default: env/local)")
    p.add_argument(
        "--suggest-key",
        default=None,
        metavar="COLUMN",
        help="suggestion mode: profile --table instead of validating it and "
        "write the drafted spec (NotNull/Domain/Range/Unique + metric-bound "
        "gates; operators/suggest.py) to the --spec path, keyed on COLUMN. "
        "The draft validates clean on the profiled table by construction.",
    )
    p.add_argument(
        "--suggest-exact",
        action="store_true",
        help="with --suggest-key: exact distinct/quantile profiling instead "
        "of sketches (small tables / oracle parity only)",
    )
    p.add_argument(
        "--force",
        action="store_true",
        help="with --suggest-key: allow overwriting an existing --spec file "
        "(without it, suggestion mode refuses to clobber a curated spec)",
    )
    p.add_argument(
        "--suggest-drift",
        default=None,
        metavar="SNAPSHOT_DIR",
        help="with --suggest-key: also draft PSI drift gates against a "
        "persisted profile snapshot (operators/drift.py profile_snapshot) "
        "written to SNAPSHOT_DIR as parquet. Later validation runs pass "
        "--dim suggest_profile=SNAPSHOT_DIR — the profiled table is never "
        "rescanned.",
    )
    p.add_argument(
        "--suggest-text-gates",
        action="store_true",
        help="with --suggest-key: also draft PII and Gopher-repetition "
        "ratchets for free-text string columns at the observed ceilings "
        "(operators/suggest.py text_gates)",
    )
    p.add_argument(
        "--suggest-format-gates",
        action="store_true",
        help="with --suggest-key: also draft typed FormatRule gates for "
        "stringly-typed columns where a format (int/date/timestamp/uuid/"
        "bool/double) holds for every non-null value "
        "(operators/suggest.py format_gates)",
    )
    p.add_argument(
        "--suggest-assoc-gates",
        action="store_true",
        help="with --suggest-key: also draft AssociationRule Cramér's-V "
        "bands for every pair of domain-sized string columns — the "
        "coupling ratchet (operators/suggest.py association_gates)",
    )
    p.add_argument(
        "--suggest-pixel-gates",
        action="store_true",
        help="with --suggest-key: also draft image-payload gates "
        "(DegenerateImageRule per binary column; plus a PixelRule when the "
        "full w/h/fmt/phash contract is present) ratcheted from ONE sampled "
        "decode profile (operators/suggest.py pixel_gates)",
    )
    p.add_argument(
        "--suggest-pixel-sample",
        type=float,
        default=1.0,
        metavar="RATE",
        help="with --suggest-pixel-gates: deterministic decode sample rate "
        "for the profile AND the drafted rules (default 1.0 = every row)",
    )
    p.add_argument(
        "--fingerprint-gate",
        action="store_true",
        help="with --checkpoint: content-gated revalidation — persist "
        "per-partition fingerprints at finalize and, on later gated "
        "invocations over a new snapshot of the same table, re-validate "
        "only the partitions whose content moved, carrying the rest from "
        "the prior run's lineage (run.py fingerprint_gate; binary columns "
        "excluded from the fingerprint by default — override with "
        "--fingerprint-columns)",
    )
    p.add_argument(
        "--fingerprint-columns",
        default=None,
        metavar="COL,COL,...",
        help="with --fingerprint-gate: exact comma-separated column set to "
        "hash into the per-partition content fingerprint, replacing the "
        "default (every non-binary, non-key column). Include the binary "
        "column to pay the full read and make byte-level corruption gate "
        "a revalidation (run.py fingerprint_columns)",
    )
    p.add_argument(
        "--suggest-concentration-gates",
        action="store_true",
        help="with --suggest-key: also draft ConcentrationRule dominance "
        "ratchets (top-value share + HHI at the observed mix plus "
        "headroom) for domain-sized string columns "
        "(operators/suggest.py concentration_gates)",
    )
    p.add_argument(
        "--suggest-align",
        action="append",
        default=[],
        metavar="COL_A:COL_B",
        help="with --suggest-key: also draft an AlignmentRule cosine floor "
        "for this embedding-column pair at the observed per-row minimum "
        "minus headroom (repeatable; operators/suggest.py alignment_pairs). "
        "Pairs with dim-mismatch or undefined-cosine rows draft nothing",
    )
    p.add_argument(
        "--suggest-embedding-health",
        action="append",
        default=[],
        metavar="COLUMN",
        help="with --suggest-key: also draft an EmbeddingHealthRule pinning "
        "this embedding column's observed dead-dimension count and "
        "anisotropy + headroom (repeatable; operators/suggest.py "
        "embedding_health_columns). Columns with mixed dimensionality or "
        "no usable vectors draft nothing",
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.layout_report or args.column_report:
        return _layout_main(args)
    if args.spec is None:
        print(
            "schema error: --spec is required (except with --layout-report/"
            "--column-report)",
            file=sys.stderr,
        )
        return 2
    # flag conflicts knowable from argv alone are refused HERE, before any
    # Spark session or table read is paid for (a refusal must be instant)
    if args.fingerprint_gate and args.smoke_fraction is not None:
        # a sampled run's verdicts must never seed (or consume) the
        # full-table fingerprint snapshot — refuse instead of silently
        # ignoring the flag
        print(
            "schema error: --fingerprint-gate cannot combine with "
            "--smoke-fraction (a sampled run's verdicts are not carryable "
            "full-table verdicts)",
            file=sys.stderr,
        )
        return 2
    if args.fingerprint_columns is not None:
        if not args.fingerprint_gate:
            print(
                "schema error: --fingerprint-columns requires "
                "--fingerprint-gate (it only parameterizes the gate's "
                "content fingerprint)",
                file=sys.stderr,
            )
            return 2
        if not [c for c in args.fingerprint_columns.split(",") if c]:
            # an empty list would silently fall back to the default column
            # set — the opposite of what an explicit override asks for
            print(
                "schema error: --fingerprint-columns is empty",
                file=sys.stderr,
            )
            return 2
    if args.suggest_key is not None:
        return _suggest_main(args)
    try:
        spec = load_spec(args.spec)
        if args.fast_fail or args.max_violations_per_rule is not None:
            from dataclasses import replace

            overrides = {}
            if args.fast_fail:
                overrides["fast_fail"] = True
            if args.max_violations_per_rule is not None:
                overrides["max_violations_per_rule"] = args.max_violations_per_rule
            spec = replace(spec, **overrides)
        # lint the spec the run will use (overrides applied) now, before any
        # Spark work (column check re-runs with the real schema inside
        # ValidationRun)
        from .compile import compile_spec

        compile_spec(spec)
    except SchemaError as e:
        print(f"schema error: {e}", file=sys.stderr)
        return 2

    from pyspark.sql import SparkSession

    pre_existing = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="mdvalidate-spark", master=args.master)
    try:
        from .sources.table_io import read_table

        df = read_table(spark, args.table)
        dims = {}
        for d in args.dim:
            name, _, path = d.partition("=")
            dims[name] = read_table(spark, path)
        try:
            if args.smoke_fraction is not None:
                from .run import smoke_validate

                try:
                    report = smoke_validate(
                        spark, df, spec, args.smoke_fraction, dims=dims,
                        run_id=args.run_id, checkpoint_dir=args.checkpoint,
                        batch_size=args.batch_size,
                    )
                except ValueError as e:  # fraction out of (0, 1]
                    print(f"schema error: {e}", file=sys.stderr)
                    return 2
                first = report.manifest.limit(1).collect()
                run_id = first[0]["run_id"] if first else (args.run_id or "?")
            else:
                run = ValidationRun(
                    spark, spec, df, dims=dims, run_id=args.run_id,
                    checkpoint_dir=args.checkpoint,
                    fingerprint_gate=args.fingerprint_gate,
                    fingerprint_columns=(
                        tuple(
                            c for c in args.fingerprint_columns.split(",") if c
                        )
                        if args.fingerprint_columns is not None
                        else None
                    ),
                )
                report = run.validate(batch_size=args.batch_size)
                run_id = run.run_id
        except SchemaError as e:
            print(f"schema error: {e}", file=sys.stderr)
            return 2

        if args.output:
            from .sources.table_io import ICEBERG_PREFIX, write_table

            # catalog routing ONLY for explicit iceberg: references — a bare
            # relative dir name ("results") must keep writing parquet as it
            # always did, not be reinterpreted as a database name. Iceberg
            # targets get a _name table suffix (a /-join would create an
            # illegal 4-part identifier).
            # Iceberg results tables APPEND (run_id disambiguates runs —
            # overwrite maps to createOrReplace, which would erase the
            # snapshot history the Iceberg sink exists to keep); parquet
            # dirs keep the overwrite-per-invocation behavior.
            if args.output.startswith(ICEBERG_PREFIX):
                target = lambda name: f"{args.output}_{name}"  # noqa: E731
                mode = "append"
            else:
                target = lambda name: f"{args.output}/{name}"  # noqa: E731
                mode = "overwrite"
            for name, frame in (
                ("violations", report.violations),
                ("metrics", report.metrics),
                ("manifest", report.manifest),
            ):
                try:
                    write_table(frame, target(name), mode=mode)
                except Exception:
                    if mode != "append":
                        raise
                    # first run against a not-yet-created Iceberg table
                    write_table(frame, target(name), mode="error")

        n = report.violations.count()
        by_rule = report.violations.groupBy("rule_id").count().orderBy("rule_id").collect()
        print(f"run {run_id}: {n} violation(s)")
        for r in by_rule:
            print(f"  {r['rule_id']}: {r['count']}")
        return report.exit_code
    finally:
        # only tear down a session this invocation created (embedders — tests,
        # notebooks — keep theirs)
        if not pre_existing:
            spark.stop()


def _layout_main(args) -> int:
    import json

    from pyspark.sql import SparkSession

    pre_existing = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="mdvalidate-spark", master=args.master)
    try:
        from .sources.layout import column_report, layout_report
        from .sources.table_io import read_table

        try:
            df = read_table(spark, args.table)
            rep = (
                column_report(df) if args.column_report else layout_report(df)
            )
        except SchemaError as e:
            print(f"schema error: {e}", file=sys.stderr)
            return 2
        print(json.dumps(rep))
        return 0
    finally:
        if not pre_existing:
            spark.stop()


def _suggest_main(args) -> int:
    """--suggest-key mode: profile the table, draft a Spec, write it to the
    --spec path (the file a later validation invocation reads). Prints one
    line per drafted rule; exit 0 on success, 2 on a profiling/schema error
    (e.g. the key column does not exist). Refuses to overwrite an existing
    --spec file unless --force is passed — a user who adds --suggest-key to
    a normal validation command line must not silently lose a curated spec
    (ADVICE r3)."""
    import os

    from pyspark.sql import SparkSession

    if os.path.exists(args.spec) and not args.force:
        print(
            f"refusing to overwrite existing spec file {args.spec!r} — pass "
            "--force to replace it, or point --spec at a new path",
            file=sys.stderr,
        )
        return 2

    pre_existing = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="mdvalidate-spark", master=args.master)
    try:
        from .operators.suggest import suggest_spec
        from .sources.table_io import read_table
        from .spec_io import save_spec

        df = read_table(spark, args.table)
        if args.suggest_key not in df.columns:
            print(
                f"schema error: suggest key column {args.suggest_key!r} not in "
                f"table columns {df.columns}",
                file=sys.stderr,
            )
            return 2
        pairs = []
        for raw in args.suggest_align:
            a, sep, b = raw.partition(":")
            if not sep or not a or not b:
                print(
                    f"schema error: --suggest-align needs COL_A:COL_B, "
                    f"got {raw!r}",
                    file=sys.stderr,
                )
                return 2
            pairs.append((a, b))
        try:
            spec = suggest_spec(
                df,
                args.suggest_key,
                exact=args.suggest_exact,
                drift=args.suggest_drift is not None,
                text_gates=args.suggest_text_gates,
                format_gates=args.suggest_format_gates,
                association_gates=args.suggest_assoc_gates,
                concentration_gates=args.suggest_concentration_gates,
                alignment_pairs=tuple(pairs),
                embedding_health_columns=tuple(
                    args.suggest_embedding_health
                ),
                pixel_gates=args.suggest_pixel_gates,
                pixel_sample_rate=args.suggest_pixel_sample,
            )
        except SchemaError as e:  # e.g. a bad --suggest-align column
            print(f"schema error: {e}", file=sys.stderr)
            return 2
        save_spec(spec, args.spec)
        if args.suggest_drift is not None:
            from .operators.suggest import suggest_profile_snapshot
            from .sources.table_io import write_table

            snap = suggest_profile_snapshot(df, spec)
            write_table(snap, args.suggest_drift, mode="overwrite")
            print(f"profile snapshot -> {args.suggest_drift}")
        print(f"suggested {len(spec.rules)} rule(s) -> {args.spec}")
        for r in spec.rules:
            print(f"  {r.id} ({r.kind})")
        return 0
    finally:
        if not pre_existing:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
