"""Spec JSON round-trip + CLI end-to-end (the mdv binary analog)."""

import json

import pytest

from mdvalidate_spark.errors import SchemaError
from mdvalidate_spark.spec_io import load_spec, rule_from_dict, save_spec, spec_from_dict, spec_to_dict
from mdvalidate_spark.sources.synthetic import dim_source, full_images_spec, synthetic_images


def test_spec_roundtrip(tmp_path):
    spec = full_images_spec(with_pixel=True)
    p = str(tmp_path / "spec.json")
    save_spec(spec, p)
    loaded = load_spec(p)
    assert loaded == spec


def test_unknown_kind_and_params_rejected():
    with pytest.raises(SchemaError):
        rule_from_dict({"kind": "nope", "id": "x"})
    with pytest.raises(SchemaError):
        rule_from_dict({"kind": "range", "id": "x", "column": "w", "bogus": 1})
    with pytest.raises(SchemaError):
        spec_from_dict({"rules": [{"kind": "regex"}]})  # missing id/column


def test_cli_end_to_end(spark, tmp_path):
    from mdvalidate_spark import cli

    table = str(tmp_path / "imgs")
    synthetic_images(spark, 300, with_bytes=False).write.parquet(table)
    dimp = str(tmp_path / "dim_source")
    dim_source(spark).write.parquet(dimp)

    spec = full_images_spec(with_pixel=False)
    specp = str(tmp_path / "spec.json")
    save_spec(spec, specp)

    out = str(tmp_path / "out")
    code = cli.main(
        [
            "--spec", specp, "--table", table,
            "--dim", f"dim_source={dimp}",
            "--output", out, "--run-id", "cli-test",
            "--master", "local[4]",
        ]
    )
    assert code == 1  # injected violations → red
    viol = spark.read.parquet(f"{out}/violations")
    assert viol.count() > 0
    man = spark.read.parquet(f"{out}/manifest")
    assert man.count() == 8


def test_cli_suggest_mode_roundtrip(spark, tmp_path, capsys):
    """--suggest-key profiles the table and writes a spec JSON that a
    subsequent validate invocation runs CLEAN on the same table (the full
    profile -> draft -> validate loop through the CLI)."""
    from mdvalidate_spark import cli

    table = str(tmp_path / "imgs")
    synthetic_images(spark, 300, with_bytes=False).write.parquet(table)
    specp = str(tmp_path / "suggested.json")

    code = cli.main(
        ["--spec", specp, "--table", table,
         "--suggest-key", "image_id", "--suggest-exact",
         "--master", "local[4]"]
    )
    assert code == 0
    out = capsys.readouterr().out
    assert "suggested" in out and "suggest_volume (metric_bound)" in out
    drafted = load_spec(specp)
    assert any(r.kind == "metric_bound" for r in drafted.rules)

    code = cli.main(["--spec", specp, "--table", table, "--master", "local[4]"])
    assert code == 0  # ratchet: the draft validates clean where it was drawn


def test_cli_suggest_refuses_to_overwrite_without_force(spark, tmp_path, capsys):
    """ADVICE r3: --suggest-key must not silently clobber an existing curated
    spec file; --force opts in explicitly."""
    from mdvalidate_spark import cli

    table = str(tmp_path / "imgs3")
    synthetic_images(spark, 100, with_bytes=False).write.parquet(table)
    specp = str(tmp_path / "curated.json")
    with open(specp, "w") as f:
        f.write('{"rules": []}')
    code = cli.main(
        ["--spec", specp, "--table", table, "--suggest-key", "image_id"]
    )
    assert code == 2
    assert "refusing to overwrite" in capsys.readouterr().err
    with open(specp) as f:
        assert f.read() == '{"rules": []}'  # untouched
    code = cli.main(
        ["--spec", specp, "--table", table, "--suggest-key", "image_id",
         "--force", "--master", "local[4]"]
    )
    assert code == 0
    assert load_spec(specp).rules  # now replaced by the draft


def test_cli_suggest_unknown_key_exit_2(spark, tmp_path, capsys):
    from mdvalidate_spark import cli

    table = str(tmp_path / "imgs2")
    synthetic_images(spark, 50, with_bytes=False).write.parquet(table)
    specp = str(tmp_path / "s.json")
    code = cli.main(
        ["--spec", specp, "--table", table, "--suggest-key", "nope"]
    )
    assert code == 2
    assert "schema error" in capsys.readouterr().err


def test_cli_smoke_mode(spark, tmp_path):
    """--smoke-fraction runs the sampled preview end-to-end: smoke metric
    rows land in the output sink and the manifest covers only partitions
    the sample touched."""
    from pyspark.sql import functions as F

    from mdvalidate_spark import cli

    table = str(tmp_path / "imgs")
    synthetic_images(spark, 2000, with_bytes=False).write.parquet(table)
    dimp = str(tmp_path / "dim_source")
    dim_source(spark).write.parquet(dimp)
    spec = full_images_spec(with_pixel=False)
    specp = str(tmp_path / "spec.json")
    save_spec(spec, specp)

    out = str(tmp_path / "out")
    code = cli.main(
        [
            "--spec", specp, "--table", table,
            "--dim", f"dim_source={dimp}",
            "--output", out, "--run-id", "cli-smoke",
            "--smoke-fraction", "0.3",
            "--master", "local[4]",
        ]
    )
    assert code == 1  # injected violations appear in a 30% sample too
    met = spark.read.parquet(f"{out}/metrics")
    smoke_rows = met.where(F.col("metric").startswith("smoke_"))
    assert smoke_rows.count() > 0
    n = met.where(F.col("metric") == "sample_rows").collect()[0]["value"]
    assert 0 < n < 2000


def test_cli_smoke_bad_fraction_exit_2(spark, tmp_path):
    from mdvalidate_spark import cli

    table = str(tmp_path / "imgs")
    synthetic_images(spark, 50, with_bytes=False).write.parquet(table)
    spec = full_images_spec(with_pixel=False)
    specp = str(tmp_path / "spec.json")
    save_spec(spec, specp)
    dimp = str(tmp_path / "dim_source")
    dim_source(spark).write.parquet(dimp)
    code = cli.main(
        [
            "--spec", specp, "--table", table,
            "--dim", f"dim_source={dimp}",
            "--smoke-fraction", "1.5",
            "--master", "local[4]",
        ]
    )
    assert code == 2


def test_cli_bad_spec_exit_2(tmp_path):
    from mdvalidate_spark import cli

    specp = str(tmp_path / "bad.json")
    with open(specp, "w") as f:
        json.dump({"rules": [{"kind": "regex", "id": "r", "column": "c", "pattern": "("}]}, f)
    assert cli.main(["--spec", specp, "--table", "/nonexistent"]) == 2


def test_spec_roundtrip_new_rule_kinds(tmp_path):
    """Composite / schema / quantile-stats rules survive the JSON roundtrip
    (tuples and nested pairs restored)."""
    from mdvalidate_spark.spec import ColumnStatsRule, CompositeRegexRule, SchemaRule, Spec
    from mdvalidate_spark.spec_io import load_spec, save_spec

    spec = Spec(
        rules=(
            CompositeRegexRule("c", column="u", prefix="img://",
                               pattern=r"[0-9]{4}", suffix=".png"),
            SchemaRule("s", expected=(("a", "bigint"), ("b", "string")),
                       allow_extra=True),
            ColumnStatsRule("q", column="w", quantiles=(0.5, 0.99),
                            exact_quantiles=True),
        ),
        key_column="u",
    )
    p = str(tmp_path / "spec.json")
    save_spec(spec, p)
    assert load_spec(p) == spec


def test_write_table_routes_by_reference_form(spark, tmp_path):
    """write_table: parquet for paths, session catalog for identifiers, and
    a clear error for iceberg: refs without an Iceberg runtime."""
    import pytest

    from mdvalidate_spark.sources.table_io import read_table, write_table

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")

    pq = str(tmp_path / "out_pq")
    write_table(df, pq)
    assert read_table(spark, pq).count() == 2

    write_table(df, "mdv_test_results")
    try:
        assert spark.table("mdv_test_results").count() == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS mdv_test_results")

    with pytest.raises(RuntimeError, match="Iceberg"):
        write_table(df, "iceberg:cat.db.results")


def test_cli_output_bare_relative_dir_writes_parquet(spark, tmp_path, monkeypatch):
    """--output with a bare relative directory name must keep writing parquet
    (the pre-write_table behavior), never be reinterpreted as a catalog
    database name."""
    import os

    from mdvalidate_spark.cli import main
    from mdvalidate_spark.sources.synthetic import synthetic_images, full_images_spec
    from mdvalidate_spark.spec_io import save_spec

    table = str(tmp_path / "images")
    synthetic_images(spark, 100, with_bytes=False, n_partitions=2).write.mode(
        "overwrite"
    ).parquet(table)
    spec_path = str(tmp_path / "spec.json")
    save_spec(full_images_spec(with_pixel=False, n_partitions=2), spec_path)

    # a RELATIVE parquet path resolves against the JVM's launch dir (not the
    # python cwd), so assert there — the point is routing: a bare name must
    # produce parquet directories, never a saveAsTable catalog write
    import shutil

    rel = "results-cli-test"
    rc = main(["--spec", spec_path, "--table", table, "--output", rel,
               "--dim", f"dim_source={table}"])
    try:
        assert rc in (0, 1)
        base = os.path.join(os.getcwd(), rel)
        assert os.path.isdir(os.path.join(base, "violations"))
        got = spark.read.parquet(os.path.join(base, "violations"))
        assert "rule_id" in got.columns
        assert not spark.catalog.tableExists(f"{rel}.violations".replace("-", "_"))
    finally:
        shutil.rmtree(os.path.join(os.getcwd(), rel), ignore_errors=True)


def test_spec_unknown_top_level_key_rejected():
    import pytest

    from mdvalidate_spark.errors import SchemaError
    from mdvalidate_spark.spec_io import spec_from_dict

    with pytest.raises(SchemaError, match="unknown top-level"):
        spec_from_dict({"fastfail": True, "rules": []})


def test_round3_fields_round_trip():
    """Round-3 spec additions round-trip through JSON: soft-rule tolerance
    (base-Rule max_violation_rate), two-table drift (DriftRule.reference),
    composite FK (RefIntegrityRule.columns/dim_columns)."""
    from mdvalidate_spark.spec import DriftRule, RefIntegrityRule, RegexRule, Spec
    from mdvalidate_spark.spec_io import spec_from_dict, spec_to_dict

    spec = Spec(
        key_column="image_id",
        rules=(
            RegexRule("r", column="c", pattern="^ok$", max_violation_rate=0.05),
            DriftRule("d", column="v", reference="yday", method="psi",
                      threshold=0.3, exact_edges=True),
            RefIntegrityRule("fk", dim_name="pairs",
                             columns=("a", "b"), dim_columns=("x", "y")),
        ),
    )
    loaded = spec_from_dict(spec_to_dict(spec))
    assert loaded == spec
    assert loaded.rules[0].max_violation_rate == 0.05
    assert loaded.rules[1].reference == "yday"
    assert loaded.rules[2].fact_keys() == ("a", "b")


def test_alignment_rule_round_trip():
    """AlignmentRule (kind 'alignment') survives the JSON round-trip."""
    from mdvalidate_spark.spec import AlignmentRule, Spec
    from mdvalidate_spark.spec_io import spec_from_dict, spec_to_dict

    spec = Spec(
        key_column="image_id",
        rules=(
            AlignmentRule(
                "al", column_a="img_emb", column_b="cap_emb",
                min_cos=0.35, max_cos=0.999, when="fmt = 'jpeg'",
            ),
        ),
    )
    loaded = spec_from_dict(spec_to_dict(spec))
    assert loaded == spec
    assert loaded.rules[0].targets() == ("img_emb", "cap_emb")


def test_cli_suggest_drift_ratchet_loop(spark, tmp_path, capsys):
    """Full CLI drift-ratchet loop (VERDICT r3 #3): --suggest-drift drafts
    PSI gates + persists the profile snapshot; a validate run with
    --dim suggest_profile=<snapshot> is clean on the profiled table and
    fires on a shifted one — the profiled table itself is never re-read."""
    from pyspark.sql import functions as F

    from mdvalidate_spark import cli

    table = str(tmp_path / "base")
    spark.range(3000).select(
        F.concat(F.lit("k"), F.col("id")).alias("image_id"),
        (F.col("id") % 89).cast("double").alias("v"),
    ).write.parquet(table)
    shifted = str(tmp_path / "shifted")
    spark.read.parquet(table).select(
        "image_id", (F.col("v") * 3 + 40).alias("v")
    ).write.parquet(shifted)
    specp = str(tmp_path / "drafted.json")
    snapp = str(tmp_path / "snap")

    code = cli.main(
        ["--spec", specp, "--table", table, "--suggest-key", "image_id",
         "--suggest-exact", "--suggest-drift", snapp, "--master", "local[4]"]
    )
    assert code == 0
    out = capsys.readouterr().out
    assert "profile snapshot ->" in out and "suggest_drift_v (drift)" in out

    # clean on the profiled table
    assert cli.main(
        ["--spec", specp, "--table", table,
         "--dim", f"suggest_profile={snapp}", "--master", "local[4]"]
    ) == 0
    # fires on the shifted table (range/p99 gates fire too — exit 1 suffices
    # plus the drift rule's own violation in stderr-free stdout counts)
    code = cli.main(
        ["--spec", specp, "--table", shifted,
         "--dim", f"suggest_profile={snapp}", "--master", "local[4]"]
    )
    assert code == 1
    assert "suggest_drift_v" in capsys.readouterr().out


def test_cli_suggest_format_gates(spark, tmp_path, capsys):
    """--suggest-format-gates drafts FormatRule for stringly-typed columns,
    the JSON roundtrips through spec_io, and the draft validates clean."""
    from pyspark.sql import functions as F

    from mdvalidate_spark import cli

    table = str(tmp_path / "stringly")
    (
        spark.range(200)
        .select(
            F.col("id").alias("k"),
            F.col("id").cast("string").alias("id_s"),
            F.format_string("%04d-%02d-%02d", F.lit(2021),
                            F.col("id") % 12 + 1, F.col("id") % 28 + 1)
            .alias("day_s"),
        )
        .write.parquet(table)
    )
    specp = str(tmp_path / "suggested_fmt.json")
    code = cli.main(
        ["--spec", specp, "--table", table, "--suggest-key", "k",
         "--suggest-exact", "--suggest-format-gates", "--master", "local[4]"]
    )
    assert code == 0
    drafted = load_spec(specp)
    fmts = {r.column: r.format for r in drafted.rules if r.kind == "format"}
    assert fmts == {"id_s": "int", "day_s": "date"}

    code = cli.main(["--spec", specp, "--table", table, "--master", "local[4]"])
    assert code == 0  # ratchet holds through the JSON roundtrip


def test_cli_layout_report_mode(spark, tmp_path, capsys):
    import json

    from mdvalidate_spark import cli

    table = str(tmp_path / "layout-imgs")
    spark.range(500).repartition(10).write.parquet(table)
    code = cli.main(["--layout-report", "--table", table])
    assert code == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_files"] == 10 and rep["total_rows"] == 500
    assert rep["n_small_files"] == 10  # tiny fixture files


def test_cli_spec_required_without_layout_mode(tmp_path, capsys):
    from mdvalidate_spark import cli

    code = cli.main(["--table", str(tmp_path)])
    assert code == 2
    assert "--spec is required" in capsys.readouterr().err


def test_cli_fingerprint_gate_lifecycle(spark, tmp_path, capsys):
    """--fingerprint-gate end-to-end on the CLI surface: invocation 1
    writes the snapshot; invocation 2 over identical content carries every
    partition (manifest rows annotated fingerprint_skipped upstream, same
    violation totals); --smoke-fraction + gate is refused."""
    from mdvalidate_spark import cli

    table = str(tmp_path / "imgs")
    synthetic_images(spark, 300, with_bytes=False).write.parquet(table)
    dimp = str(tmp_path / "dim_source")
    dim_source(spark).write.parquet(dimp)
    spec = full_images_spec(with_pixel=False)
    specp = str(tmp_path / "spec.json")
    save_spec(spec, specp)
    ck = str(tmp_path / "ck")

    base = [
        "--spec", specp, "--table", table,
        "--dim", f"dim_source={dimp}",
        "--checkpoint", ck, "--fingerprint-gate",
        "--master", "local[4]",
    ]
    code1 = cli.main(base + ["--run-id", "cg1"])
    out1 = capsys.readouterr().out
    assert code1 == 1  # injected violations → red
    import os

    assert os.path.exists(f"{ck}/fingerprint/meta.json")
    code2 = cli.main(base + ["--run-id", "cg2"])
    out2 = capsys.readouterr().out
    assert code2 == 1
    # carried verdicts: identical per-rule counts on both invocations
    assert out1.split("\n", 1)[1] == out2.split("\n", 1)[1]
    # ...and the counts being equal is NOT enough (the engine is
    # deterministic, so a silent full revalidation prints the same
    # numbers): run 2's persisted manifest must show every partition was
    # actually CARRIED through the gate, not recomputed
    import json

    with open(f"{ck}/manifest.json") as f:
        doc2 = json.load(f)
    assert doc2["run_id"] == "cg2" and doc2["complete"]
    assert doc2["entries"] and all(
        e.get("fingerprint_skipped") for e in doc2["entries"].values()
    )

    # gate + smoke is refused loudly, not silently ignored — and from argv
    # alone: a nonexistent --table proves the refusal happens before any
    # Spark session is built or the table is read
    code3 = cli.main(
        [
            "--spec", specp, "--table", str(tmp_path / "no-such-table"),
            "--checkpoint", ck, "--fingerprint-gate",
            "--smoke-fraction", "0.2", "--run-id", "cg3",
        ]
    )
    err = capsys.readouterr().err
    assert code3 == 2
    assert "fingerprint-gate" in err

    # gate without --checkpoint is the library-level SchemaError → exit 2
    code4 = cli.main(
        [
            "--spec", specp, "--table", table,
            "--dim", f"dim_source={dimp}",
            "--fingerprint-gate", "--master", "local[4]",
            "--run-id", "cg4",
        ]
    )
    err = capsys.readouterr().err
    assert code4 == 2
    assert "checkpoint_dir" in err


def test_cli_fingerprint_columns_flag(spark, tmp_path, capsys):
    """--fingerprint-columns: requires the gate and a non-empty list (both
    refused from argv alone, before Spark work), and a valid override lands
    verbatim in the snapshot's meta.json column set."""
    import json
    import os

    from mdvalidate_spark import cli

    specp = str(tmp_path / "spec.json")
    save_spec(full_images_spec(with_pixel=False), specp)
    missing = str(tmp_path / "no-such-table")

    # without the gate the flag is meaningless — refuse, don't ignore
    code = cli.main(
        ["--spec", specp, "--table", missing, "--fingerprint-columns", "w,h"]
    )
    assert code == 2
    assert "requires" in capsys.readouterr().err

    # explicit-but-empty would silently fall back to the default set
    code = cli.main(
        [
            "--spec", specp, "--table", missing, "--checkpoint",
            str(tmp_path / "ck0"), "--fingerprint-gate",
            "--fingerprint-columns", ",",
        ]
    )
    assert code == 2
    assert "empty" in capsys.readouterr().err

    table = str(tmp_path / "imgs")
    synthetic_images(spark, 120, with_bytes=False).write.parquet(table)
    dimp = str(tmp_path / "dim_source")
    dim_source(spark).write.parquet(dimp)
    ck = str(tmp_path / "ck")
    code = cli.main(
        [
            "--spec", specp, "--table", table,
            "--dim", f"dim_source={dimp}",
            "--checkpoint", ck, "--fingerprint-gate",
            "--fingerprint-columns", "w,h,fmt",
            "--master", "local[4]", "--run-id", "fc1",
        ]
    )
    capsys.readouterr()
    assert code == 1  # injected violations; the run still finalizes
    meta = json.load(open(os.path.join(ck, "fingerprint", "meta.json")))
    assert meta["columns"] == ["fmt", "h", "w"]  # sorted override, verbatim


def test_cli_suggest_align_pairs(spark, tmp_path, capsys):
    """--suggest-align COL_A:COL_B drafts an AlignmentRule floor through the
    CLI; malformed pair syntax and unknown columns are exit-2 refusals."""
    from mdvalidate_spark import cli
    from mdvalidate_spark.spec import AlignmentRule
    from mdvalidate_spark.spec_io import load_spec

    table = str(tmp_path / "pairs.parquet")
    spark.createDataFrame(
        [(i, [1.0, 0.0], [0.6, 0.8]) for i in range(6)],
        "id long, a array<double>, b array<double>",
    ).write.parquet(table)
    spec_path = str(tmp_path / "draft.json")
    code = cli.main([
        "--table", table, "--spec", spec_path,
        "--suggest-key", "id", "--suggest-exact",
        "--suggest-align", "a:b",
    ])
    assert code == 0
    drafted = [r for r in load_spec(spec_path).rules
               if isinstance(r, AlignmentRule)]
    assert len(drafted) == 1 and drafted[0].min_cos == 0.55
    capsys.readouterr()

    # malformed pair syntax: refused from argv parsing, exit 2
    code = cli.main([
        "--table", table, "--spec", str(tmp_path / "d2.json"),
        "--suggest-key", "id", "--suggest-align", "a=b",
    ])
    assert code == 2
    # unknown pair column: typed SchemaError -> exit 2, no traceback
    code = cli.main([
        "--table", table, "--spec", str(tmp_path / "d3.json"),
        "--suggest-key", "id", "--suggest-align", "a:nope",
    ])
    assert code == 2
    err = capsys.readouterr().err
    assert "schema error" in err


def test_cli_suggest_embedding_health(spark, tmp_path, capsys):
    """--suggest-embedding-health COLUMN drafts an EmbeddingHealthRule
    ratchet through the CLI (JSON round-trip included); a non-array column
    is an exit-2 refusal."""
    from mdvalidate_spark import cli
    from mdvalidate_spark.spec import EmbeddingHealthRule
    from mdvalidate_spark.spec_io import load_spec

    table = str(tmp_path / "vecs.parquet")
    spark.createDataFrame(
        [(i, [1.0 + i, float(i % 3), 2.0 - i]) for i in range(8)],
        "id long, v array<double>",
    ).write.parquet(table)
    spec_path = str(tmp_path / "draft.json")
    code = cli.main([
        "--table", table, "--spec", spec_path,
        "--suggest-key", "id", "--suggest-exact",
        "--suggest-embedding-health", "v",
    ])
    assert code == 0
    drafted = [r for r in load_spec(spec_path).rules
               if isinstance(r, EmbeddingHealthRule)]
    assert len(drafted) == 1
    assert drafted[0].dim == 3 and drafted[0].min_rows == 8
    assert drafted[0].max_dead_dims == 0
    capsys.readouterr()

    # non-array column: typed SchemaError -> exit 2, no traceback
    code = cli.main([
        "--table", table, "--spec", str(tmp_path / "d2.json"),
        "--suggest-key", "id", "--suggest-embedding-health", "id",
    ])
    assert code == 2
    assert "schema error" in capsys.readouterr().err


def test_cli_overrides_are_linted_before_spark(tmp_path, monkeypatch, capsys):
    """--max-violations-per-rule is applied before the lint, so a negative
    cap exits 2 without starting a Spark session."""
    from mdvalidate_spark import cli

    def no_spark(**_kw):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(cli, "get_spark", no_spark)
    specp = str(tmp_path / "spec.json")
    with open(specp, "w") as f:
        json.dump({"rules": [{"kind": "range", "id": "r", "column": "w", "max": 5}]}, f)
    code = cli.main(
        ["--spec", specp, "--table", "/nonexistent", "--max-violations-per-rule", "-1"]
    )
    assert code == 2
    assert "max_violations_per_rule must be >= 0" in capsys.readouterr().err
