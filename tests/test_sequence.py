"""SequenceRule — ordered disjoint consumption by chained matchers (the
ListVsList re-expression, reference lists.rs:92-511)."""

import pytest

from mdvalidate_spark.compile import compile_spec
from mdvalidate_spark.errors import SchemaError
from mdvalidate_spark.operators.sequence import sequence_violations
from mdvalidate_spark.spec import SequenceRule, SequenceStep, Spec

COLS = ["k", "grp", "pos", "val"]


def _rule(steps):
    return SequenceRule(
        "seq", column="val", group_by=("grp",), order_column="pos", steps=steps
    )


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, grp string, pos int, val string")


def test_chained_steps_consume_disjoint_ordered_ranges(spark):
    """Two fixed header steps then a variable tail: each run checked against
    its own pattern, out-of-order input restored by the order column."""
    rows = [
        # group A: H, T, b1, b2 — valid
        ("a1", "A", 1, "H"), ("a3", "A", 3, "b1"), ("a2", "A", 2, "T"), ("a4", "A", 4, "b2"),
        # group B: header wrong at pos 2, body wrong at pos 4
        ("b1", "B", 1, "H"), ("b2", "B", 2, "X"), ("b3", "B", 3, "b9"), ("b4", "B", 4, "nope"),
    ]
    rule = _rule((
        SequenceStep(pattern="H", min=1, max=1),
        SequenceStep(pattern="T", min=1, max=1),
        SequenceStep(pattern="b\\d", min=1, max=5),
    ))
    v = sequence_violations(_df(spark, rows), rule, "r", "k").collect()
    got = {(r["image_id"], r["kind"]) for r in v}
    assert got == {("b2", "matcher"), ("b4", "matcher")}
    exp = {r["image_id"]: r["expected"] for r in v}
    assert exp["b2"] == "^(?:T)$"   # rank-2 row judged by step 2's pattern
    assert exp["b4"] == "^(?:b\\d)$"  # tail row judged by the last pattern


def test_group_length_bounds(spark):
    """Groups shorter than the fixed prefix + min tail, or longer than the
    max, get ONE count violation (WrongListCount / ChildrenLengthMismatch)."""
    rows = (
        [("s1", "SHORT", 1, "H")]                                  # 1 < 2+1
        + [(f"g{i}", "GOOD", i, "H" if i == 1 else ("T" if i == 2 else "b1"))
           for i in range(1, 5)]                                   # 4 in [3, 4]
        + [(f"l{i}", "LONG", i, "H" if i == 1 else ("T" if i == 2 else "b1"))
           for i in range(1, 6)]                                   # 5 > 4
    )
    rule = _rule((
        SequenceStep(pattern="H", min=1, max=1),
        SequenceStep(pattern="T", min=1, max=1),
        SequenceStep(pattern="b1", min=1, max=2),
    ))
    v = sequence_violations(_df(spark, rows), rule, "r", "k")
    counts = {r["image_id"]: r["actual"] for r in v.where("kind = 'count'").collect()}
    assert counts == {"SHORT": "1", "LONG": "5"}
    # SHORT's lone row matches step 1 — no matcher violation for it
    assert v.where("kind = 'matcher'").count() == 0


def test_open_ended_tail(spark):
    rows = [(f"r{i}", "G", i, "x") for i in range(1, 12)]
    rule = _rule((SequenceStep(pattern="x", min=1, max=None),))
    assert sequence_violations(_df(spark, rows), rule, "r", "k").count() == 0


def test_variable_step_must_be_last(spark):
    rule = _rule((
        SequenceStep(pattern="a", min=1, max=3),
        SequenceStep(pattern="b", min=1, max=1),
    ))
    with pytest.raises(SchemaError, match="variable-length"):
        compile_spec(Spec(rules=(rule,), key_column="k"), COLS)


def test_sequence_json_roundtrip():
    from mdvalidate_spark.spec_io import rule_from_dict, rule_to_dict

    rule = _rule((
        SequenceStep(pattern="H", min=1, max=1),
        SequenceStep(pattern="b\\d", min=0, max=None),
    ))
    rt = rule_from_dict(rule_to_dict(rule))
    assert rt == rule


def test_sequence_through_validation_run(spark):
    """Rides finalize (groups span engine partitions)."""
    from mdvalidate_spark.run import ValidationRun

    rows = [
        ("a1", "A", 1, "H"), ("a2", "A", 2, "b1"),
        ("b1", "B", 1, "WRONG"), ("b2", "B", 2, "b2"),
    ]
    spec = Spec(
        rules=(_rule((
            SequenceStep(pattern="H", min=1, max=1),
            SequenceStep(pattern="b\\d", min=1, max=3),
        )),),
        key_column="k",
        n_partitions=2,
    )
    report = ValidationRun(spark, spec, _df(spark, rows), run_id="sq").validate()
    v = report.violations.where("rule_id = 'seq'").collect()
    assert {(r["image_id"], r["kind"]) for r in v} == {("b1", "matcher")}


# ---------------------------------------------------------- MonotonicRule


def _mono(spark, rows, **kw):
    from mdvalidate_spark.operators.sequence import monotonic_violations
    from mdvalidate_spark.spec import MonotonicRule

    df = spark.createDataFrame(rows, "image_id string, g string, t int, v int")
    rule = MonotonicRule(
        "m", column=kw.pop("column", "v"), group_by=("g",),
        order_column="t", **kw
    )
    return {
        r["image_id"]
        for r in monotonic_violations(df, rule, "t", "image_id").collect()
    }


def test_monotonic_flags_regressions_per_group(spark):
    rows = [
        ("a1", "A", 1, 10), ("a2", "A", 2, 12), ("a3", "A", 3, 11),  # a3 regresses
        ("b1", "B", 1, 5), ("b2", "B", 2, 5), ("b3", "B", 3, 9),    # equal ok (not strict)
    ]
    assert _mono(spark, rows) == {"a3"}
    assert _mono(spark, rows, strict=True) == {"a3", "b2"}  # equality now fails
    assert _mono(spark, rows, direction="nonincreasing") == {"a2", "b3"}


def test_monotonic_null_breaks_chain_and_tiebreak(spark):
    rows = [
        ("a1", "A", 1, 10), ("a2", "A", 2, None), ("a3", "A", 3, 4),
        # order tie at t=5: key tie-break makes z1 the predecessor of z2
        ("z1", "B", 5, 8), ("z2", "B", 5, 3),
    ]
    got = _mono(spark, rows)
    # the pair around the NULL is out of scope (a3 vs a1 never compared);
    # z2 regresses vs z1 under the deterministic (t, image_id) order
    assert got == {"z2"}


def test_monotonic_brute_force_random(spark):
    import random

    rnd = random.Random(42)
    rows = [
        (f"k{i:03d}", f"g{i % 7}", rnd.randrange(50), rnd.randrange(20))
        for i in range(300)
    ]
    want = set()
    from collections import defaultdict

    by_g = defaultdict(list)
    for key, g, t, v in rows:
        by_g[g].append((t, key, v))
    for g, items in by_g.items():
        items.sort()
        for (pt, pk, pv), (t, k, v) in zip(items, items[1:]):
            if v < pv:
                want.add(k)
    assert _mono(spark, rows) == want


def test_monotonic_lints_and_staging(spark):
    from mdvalidate_spark.compile import compile_spec
    from mdvalidate_spark.errors import SchemaError
    from mdvalidate_spark.spec import MonotonicRule, Spec

    def spec(rule):
        return Spec(rules=(rule,), key_column="image_id", n_partitions=4)

    cols = ["image_id", "g", "t", "v"]
    with pytest.raises(SchemaError, match="unknown direction"):
        compile_spec(
            spec(MonotonicRule("m", column="v", group_by=("g",),
                               order_column="t", direction="up")), cols)
    with pytest.raises(SchemaError, match="non-empty group_by"):
        compile_spec(
            spec(MonotonicRule("m", column="v", order_column="t")), cols)
    prog = compile_spec(
        spec(MonotonicRule("m", column="v", group_by=("g",), order_column="t")),
        cols,
    )
    assert any(r.kind == "monotonic" for r in prog.stages["group"])
