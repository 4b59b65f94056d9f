"""The --py-files artifact must be self-contained: importing the package from
the zip ALONE (repo dir absent from sys.path) has to succeed, or a cluster
launch would die on the first executor import."""

import os
import subprocess
import sys


def test_pyfiles_zip_imports_standalone(tmp_path):
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import package_pyfiles

    zip_path, main_path = package_pyfiles.build(str(tmp_path))
    assert os.path.exists(zip_path) and os.path.exists(main_path)

    probe = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        # simulate the executor: the repo checkout is NOT on the path
        "sys.path = [p for p in sys.path if not p.rstrip('/').endswith('repo')]; "
        "import mdvalidate_spark, mdvalidate_spark.cli, "
        "mdvalidate_spark.operators.dedup, mdvalidate_spark.spec_io; "
        "from mdvalidate_spark.spec import Spec, RegexRule; "
        "s = Spec(rules=(RegexRule('r', 'c', 'x+'),), n_partitions=4); "
        "print('ZIPOK', len(s.rules))"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe, zip_path],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        timeout=120,
    )
    assert "ZIPOK 1" in out.stdout, (out.stdout, out.stderr)


def test_output_contract_is_declared_in_schemas_only():
    """The violations and metrics DDLs and the typed-null ``partition_id``
    projection are spelled out in ``schemas.py`` alone: every other module
    builds its rows through it, so a change to the output format is one
    edit."""
    import ast
    import re

    from mdvalidate_spark import schemas

    pkg = os.path.dirname(schemas.__file__)
    typed_null = 'lit(None).cast("int").alias("partition_id")'
    offenders = []
    for root, _, names in os.walk(pkg):
        for name in names:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == schemas.__file__:
                continue
            with open(path) as f:
                src = f.read()
            literals = [
                n.value
                for n in ast.walk(ast.parse(src))
                if isinstance(n, ast.Constant) and isinstance(n.value, str)
            ]
            for ddl in (schemas.VIOLATIONS_DDL, schemas.METRICS_DDL):
                if any(ddl in s for s in literals):
                    offenders.append((os.path.relpath(path, pkg), ddl[:40]))
            if typed_null in re.sub(r"\s", "", src):
                offenders.append((os.path.relpath(path, pkg), typed_null))
    assert offenders == []


def test_driver_built_frames_go_through_local_frame():
    """``createDataFrame`` is called in ``schemas.py`` alone: every other
    module builds its driver-side frames with ``schemas.local_frame``, so
    none of them becomes a parallelized Python RDD."""
    from mdvalidate_spark import schemas

    pkg = os.path.dirname(schemas.__file__)
    offenders = []
    for root, _, names in os.walk(pkg):
        for name in names:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == schemas.__file__:
                continue
            with open(path) as f:
                if "createDataFrame(" in f.read():
                    offenders.append(os.path.relpath(path, pkg))
    assert offenders == []
