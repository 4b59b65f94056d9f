"""Property-based anchoring tests (hypothesis, pure Python — no Spark).

The anchoring of user regexes has now been wrong twice in review (round-1:
alternation anchored as ^a|b$; round-2: a one-sided user anchor suppressed
the other side), so the semantics are pinned here as PROPERTIES over
generated patterns instead of a handful of examples:

  full=True  ⇒ the compiled pattern accepts exactly the full-match language
               (a trailing line terminator included: "$" would accept
               "ab\\n" for "ab" in Python and Java alike)
  full=False ⇒ accepts exactly the start-anchored (prefix) language

checked for literal cores, alternations of literals, and every combination
of user-supplied ^ / $ anchors. Python `re` is the oracle; the engine
applies the same pattern via JVM rlike, whose anchor/alternation semantics
for these constructs match (locked separately by the Spark-side row-rule
tests)."""

import re
import string

from hypothesis import given, settings
from hypothesis import strategies as st

from mdvalidate_spark.operators.sequence import _anchored as seq_anchored
from mdvalidate_spark.spec import RegexRule

# literal cores: printable, regex-escaped, so expected semantics are exact
# string comparisons; non-empty to keep prefix/suffix perturbations meaningful
_lit = st.text(
    alphabet=string.ascii_letters + string.digits + " .+*?()[]{}|^$\\-",
    min_size=1,
    max_size=8,
)
_junk = st.text(alphabet=string.ascii_letters + string.digits, min_size=1, max_size=4)


def _variants(core: str):
    """The four user-anchor spellings of one core."""
    return (core, "^" + core, core + "$", "^" + core + "$")


@settings(max_examples=300, deadline=None)
@given(lit=_lit, junk=_junk, variant=st.integers(0, 3), full=st.booleans())
def test_literal_anchoring_matches_expected_language(lit, junk, variant, full):
    core = re.escape(lit)
    pattern = _variants(core)[variant]
    rule = RegexRule("r", column="c", pattern=pattern, full=full)
    rx = re.compile(rule.anchored)

    user_end = variant in (2, 3)
    # accepted language: full match when full=True OR the user wrote $;
    # otherwise any string with the literal as a prefix
    def accepts(s: str) -> bool:
        if full or user_end:
            return s == lit
        return s.startswith(lit)

    probes = [lit, lit + junk, junk + lit, junk, ""]
    if full or not user_end:
        # a trailing line terminator, which "$" would accept before; a
        # user's own "$" keeps that meaning in prefix mode
        probes += [lit + "\n", lit + "\r\n"]
    for s in probes:
        assert bool(rx.search(s)) == accepts(s), (pattern, s, rule.anchored)


@settings(max_examples=300, deadline=None)
@given(a=_lit, b=_lit, junk=_junk, variant=st.integers(0, 3), full=st.booleans())
def test_alternation_anchoring_never_leaks_half_anchors(a, b, junk, variant, full):
    """'a|b' must behave as (?:a|b) under every anchor combination — the
    round-1 bug class was '^a|b$' = (prefix a) OR (suffix b)."""
    core = re.escape(a) + "|" + re.escape(b)
    pattern = _variants(core)[variant]
    rule = RegexRule("r", column="c", pattern=pattern, full=full)
    rx = re.compile(rule.anchored)

    # precedence subtlety the engine must PRESERVE, not "fix": in 'a|b$' the
    # user's $ binds only to the b BRANCH, so with full=False the a branch
    # stays a prefix match while b becomes exact
    end_on_b = variant in (2, 3)

    def accepts(s: str) -> bool:
        if full:
            return s == a or s == b
        return s.startswith(a) or (s == b if end_on_b else s.startswith(b))

    probes = [a, b, a + junk, junk + a, b + junk, junk + b, junk, a + "\n"]
    if full or not end_on_b:
        probes.append(b + "\n")
    for s in probes:
        assert bool(rx.search(s)) == accepts(s), (pattern, s, rule.anchored)


@settings(max_examples=300, deadline=None)
@given(lit=_lit, junk=_junk, variant=st.integers(0, 3))
def test_sequence_anchoring_is_always_full_match(lit, junk, variant):
    """Sequence steps are full-value matches regardless of user anchors —
    a one-sided '^foo' must not silently become a prefix match (round-2
    advice: one-sided anchors suppressed the opposite anchor)."""
    core = re.escape(lit)
    pattern = _variants(core)[variant]
    rx = re.compile(seq_anchored(pattern))
    for s in (lit, lit + junk, junk + lit, junk, "", lit + "\n"):
        assert bool(rx.search(s)) == (s == lit), (pattern, s)


@settings(max_examples=200, deadline=None)
@given(lit=_lit, junk=_junk, full=st.booleans())
def test_escaped_trailing_dollar_is_a_literal_not_an_anchor(lit, junk, full):
    """Pattern '<core>\\$' must require a literal '$' character — the naive
    endswith('$') anchor sniff dropped the real end anchor here."""
    pattern = re.escape(lit) + r"\$"
    rule = RegexRule("r", column="c", pattern=pattern, full=full)
    rx = re.compile(rule.anchored)
    target = lit + "$"

    def accepts(s: str) -> bool:
        if full:
            return s == target
        return s.startswith(target)

    for s in (target, target + junk, junk + target, lit, junk, target + "\n"):
        assert bool(rx.search(s)) == accepts(s), (pattern, s, rule.anchored)
    srx = re.compile(seq_anchored(pattern))
    for s in (target, target + junk, junk + target, lit, target + "\n"):
        assert bool(srx.search(s)) == (s == target), (pattern, s)
