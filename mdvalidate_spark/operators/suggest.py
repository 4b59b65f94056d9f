"""Constraint suggestion: profile a table once and draft a Spec.

The reference starts from a hand-written mdschema; at 10^12 rows nobody
hand-writes the first draft — the engine proposes one from the data and the
user edits it down. This is the inverse of validation: observe the table's
actual invariants (no NULLs seen, small value set, numeric envelope, all
values distinct) and emit the rule that would have enforced them
(NotNullRule / DomainRule / RangeRule / UniqueRule + a SchemaRule pinning
the observed dtypes). The suggested spec VALIDATES CLEAN on the profiled
table by construction — it is a ratchet against future regressions, not a
judgment of the current data.

Scale shape: ONE aggregation pass over the table computes every per-column
statistic (row count, non-null count, distinct cardinality, numeric
min/max) — a single row collected to the driver. Domain candidates (string
columns whose cardinality is at or below ``domain_max_distinct``) get one
SECOND bounded pass collecting their sorted value sets — each set is
already known to be small, so the collect is O(candidates x k), never
O(rows). ``exact=False`` (the 100 TB default) uses approx_count_distinct
(HLL, ~1.6% rsd) for cardinality; ``exact=True`` uses exact distinct counts
for small-scale oracle parity. Uniqueness candidates come from the first
pass (``unique_margin`` loosens the sketch match to tolerate HLL
UNDERcount) and are then CONFIRMED exactly before a UniqueRule is emitted
— the sketch can also OVERcount (~1.6% rsd), and an unconfirmed
UniqueRule on a merely near-unique column would FAIL on the profiled
table, breaking the ratchet. Confirmation is one exact ``count_distinct``
aggregation over just the candidate columns; that is a real shuffle on a
10^12-row table, but it costs about what a single validation run of the
suggested UniqueRule costs — strictly cheaper than shipping a draft that
fails its first run. Set ``confirm_unique=False`` to skip it and accept
the sketch's word (then a loose margin risks false UniqueRules).

Beyond the exact invariants, the draft also proposes METRIC-BOUND GATES
(``gates=True``) — envelopes with headroom rather than equalities, the
aggregate-level ratchet a 10^12-row table actually needs because exact
invariants churn on every append:

* ``null_rate(c) <= observed*(1+null_rate_headroom)`` for every column
  where nulls WERE seen (columns with none get NotNullRule instead);
* ``distinct(c) in [floor(nd*(1-m)), ceil(nd*(1+m))]`` for string columns
  too wide for a DomainRule — catches both cardinality explosion (an id
  leaking into a category column) and collapse (an ETL bug constant-
  folding a column). With ``exact=False`` the margin must absorb HLL
  error too (~1.6% rsd), so keep ``distinct_margin`` well above 0.05;
* ``count >= floor(rows*(1-volume_margin))`` on the table — a volume
  floor (growth is fine; silent truncation is the failure mode);
* ``p99(c) <= p99 + |p99|*quantile_headroom`` for numeric columns — the
  distribution-tail gate ("p99(w) <= 2048"): a Range envelope moves on a
  single outlier, the p99 gate only on a tail shift. Computed in the SAME
  single profiling pass (exact percentile, or the mergeable
  approx_percentile sketch when ``exact=False``).

``text_gates=True`` extends the ratchet to free-text columns (string, not
domain-sized, average length >= ``text_min_avg_len``): the observed
ceilings of the Gopher repetition signals (over rows with >=
``text_min_words`` words) and of the typed PII total become drafted
``RepetitionRule`` / ``PiiRule`` gates with ``text_headroom`` slack —
"the corpus is THIS clean today; keep it that clean". Text-likeness (avg length)
rides the main pass; the heavy repetition/PII ceiling aggregates run in
ONE extra pass restricted to the qualifying text columns, so wide tables
of UUID/enum columns never pay the run-length walks.

``format_gates=True`` extends the ratchet to STRINGLY-TYPED columns (the
CSV/JSON-ingest failure mode: everything landed as VARCHAR): for every
string column that is neither domain-sized nor free text, profile which
typed formats (``format_candidates``, most-specific first) hold for EVERY
non-null value, and draft ``FormatRule`` for the first that does. The
profile uses the SAME ``format_ok`` predicate the drafted rule enforces
(row_rules.py), so the draft validates clean by construction. The parse
checks run in one extra pass restricted to the candidate columns — never
over domains (DomainRule already pins them exactly) or free text (no
format holds, the regexes would walk megabytes). ``json`` is excluded from
the default candidates: try_parse_json accepts any scalar literal, so it
would blanket-match numeric-ish columns, and DuckDB's json_valid disagrees
with it on bare ``nan``/``inf`` (FormatRule docstring) — opt in per table.

``association_gates=True`` extends the ratchet to COLUMN PAIRS: for every
pair of domain-sized string columns the observed Cramér's V (full-grid
chi2, operators/association.py) becomes a drafted ``AssociationRule``
band — V ± max(``association_headroom``·V, ``association_min_slack``),
clamped to [0, 1] in integer micro-units. Coupling is an invariant in both
directions: a pair that is independent today acquiring association (a
quality score leaking the split) and a pair that is coupled today losing
it (fmt drifting off its container magic) are BOTH regressions. Pairs
with dof = 0 (a constant column) make no statement and draft nothing.
Each pair costs one cell-bounded groupBy — pairs are C(#domains, 2) of
small-cardinality columns, so the extra passes are few and each is
shuffle-bounded by ≤ domain_max_distinct² cells.

All bounds are computed so the draft still VALIDATES CLEAN on the
profiled table (ceil/floor always rounds the permissive way).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    TimestampType,
)

from ..schemas import local_frame
from ..spec import (
    FORMATS,
    AlignmentRule,
    AssociationRule,
    ConcentrationRule,
    DomainRule,
    DriftRule,
    EmbeddingHealthRule,
    FormatRule,
    MetricBoundRule,
    NotNullRule,
    PiiRule,
    RangeRule,
    RepetitionRule,
    Rule,
    SchemaRule,
    Spec,
    UniqueRule,
)
from . import pii as _pii
from . import text as _text

_NUMERIC = (ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType,
            DecimalType)
_ORDERED = _NUMERIC + (DateType, TimestampType)


def suggest_spec(
    df: DataFrame,
    key_column: str,
    *,
    domain_max_distinct: int = 16,
    exact: bool = False,
    unique_margin: float = 0.0,
    confirm_unique: bool = True,
    n_partitions: int = 8,
    gates: bool = True,
    null_rate_headroom: float = 0.25,
    distinct_margin: float = 0.10,
    volume_margin: float = 0.10,
    quantile_headroom: float = 0.10,
    drift: bool = False,
    drift_reference: str = "suggest_profile",
    drift_threshold: float = 0.2,
    drift_bins: int = 32,
    text_gates: bool = False,
    text_min_avg_len: float = 50.0,
    text_headroom: float = 0.25,
    text_min_words: int = 20,
    association_gates: bool = False,
    association_headroom: float = 0.15,
    association_min_slack: float = 0.05,
    concentration_gates: bool = False,
    concentration_headroom: float = 0.25,
    alignment_pairs: tuple[tuple[str, str], ...] = (),
    alignment_headroom: float = 0.05,
    embedding_health_columns: tuple[str, ...] = (),
    embedding_health_headroom: float = 0.05,
    format_gates: bool = False,
    format_candidates: tuple[str, ...] = (
        "int",
        "date",
        "timestamp",
        "uuid",
        "bool",
        "double",
    ),
    pixel_gates: bool = False,
    pixel_sample_rate: float = 1.0,
    pixel_headroom: float = 0.10,
) -> Spec:
    """Profile ``df`` and return a draft Spec (see module docstring).

    Deterministic: rules are ordered by (column, kind); domain values are
    sorted; rule ids are ``suggest_<kind>_<column>``.
    """
    fields = [f for f in df.schema.fields if f.name != "partition_id"]
    aggs = [F.count(F.lit(1)).alias("__n")]
    nd_aggs = []
    for f in fields:
        c = f.name
        col = F.col(c)
        aggs.append(F.count(col).alias(f"nn__{c}"))
        # exact count_distincts live in their OWN aggregation (round 6):
        # N distinct aggregates in one agg make Spark plan an Expand that
        # duplicates every input row N+1 times — and with exact percentile
        # buffers in the same pass the whole profile degenerated (same
        # pathology as the stats_lineitem rewrite). The two jobs below run
        # concurrently from driver threads; values are unchanged.
        nd = F.count_distinct(col) if exact else F.approx_count_distinct(col)
        nd_aggs.append(nd.alias(f"nd__{c}"))
        if (text_gates or format_gates) and isinstance(f.dataType, StringType):
            # cheap text-likeness signal only — the heavy repetition/PII
            # ceiling aggregates run in a SECOND pass restricted to the
            # columns that actually qualify (see below): on a wide table of
            # UUID/enum/short-string columns the sort+walk+regex work would
            # otherwise dominate the profile for columns whose gates are
            # discarded at draft time. format_gates uses the same signal in
            # reverse: free-text columns are excluded from format probing.
            aggs.append(F.avg(F.length(col)).alias(f"len__{c}"))
        if isinstance(f.dataType, _NUMERIC):
            aggs.append(F.min(col).alias(f"mn__{c}"))
            aggs.append(F.max(col).alias(f"mx__{c}"))
            if gates:
                q = (
                    F.percentile(col, F.lit(0.99))
                    if exact
                    else F.approx_percentile(col, F.lit(0.99), F.lit(10000))
                )
                aggs.append(q.cast("double").alias(f"q99__{c}"))
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as _pool:
        _plain_fut = _pool.submit(lambda: df.agg(*aggs).collect()[0])
        _nd_fut = _pool.submit(lambda: df.agg(*nd_aggs).collect()[0])
        prof = {**_plain_fut.result().asDict(), **_nd_fut.result().asDict()}
    n_rows = prof["__n"]

    # bounded second pass: sorted value sets of the small-cardinality
    # string columns only (each set known <= domain_max_distinct + slack)
    domain_cols = [
        f.name
        for f in fields
        if isinstance(f.dataType, StringType)
        and 0 < prof[f"nd__{f.name}"] <= domain_max_distinct
    ]
    domains: dict[str, tuple[str, ...]] = {}
    if domain_cols:
        drow = df.agg(
            *[
                F.sort_array(F.collect_set(F.col(c))).alias(c)
                for c in domain_cols
            ]
        ).collect()[0]
        for c in domain_cols:
            vals = tuple(drow[c])
            # the sketch may have undercounted — keep the suggestion honest
            if len(vals) <= domain_max_distinct:
                domains[c] = vals

    # concentration-gate ceilings: the domain pass already enumerated every
    # value of the domain-sized columns, so ONE fused conditional-count
    # pass (count per (column, value) — no groupBy, no extra shuffle)
    # yields exact per-value counts; top_share/hhi then ratchet in the
    # same integer micro-units the ConcentrationRule verdict uses, so a
    # drafted gate is clean-by-construction on the profiled table.
    conc_bounds: dict[str, tuple[float, float]] = {}
    if concentration_gates and domains:
        from .skew import _micro

        caggs = []
        for c, vals in sorted(domains.items()):
            for i, v in enumerate(vals):
                caggs.append(
                    F.count(F.when(F.col(c) == F.lit(v), 1)).alias(
                        f"cc_{i}__{c}"
                    )
                )
        crow = df.agg(*caggs).collect()[0].asDict()
        for c, vals in sorted(domains.items()):
            ns = [int(crow[f"cc_{i}__{c}"]) for i in range(len(vals))]
            scoped = sum(ns)
            if scoped == 0:
                continue
            top_m = _micro(max(ns), scoped)
            hhi_m = _micro(sum(n * n for n in ns), scoped * scoped)
            pad = 1.0 + concentration_headroom
            conc_bounds[c] = (
                min(1.0, math.ceil(top_m * pad) / 1e6),
                min(1.0, math.ceil(hhi_m * pad) / 1e6),
            )

    # text-gate ceilings: ONE extra aggregation pass over ONLY the free-text
    # columns (string, not domain-sized, avg length over the threshold) —
    # the run-length walks and PII counters are heavy per value, so they
    # never run for UUID/enum/short-string columns
    textprof: dict[str, object] = {}
    pdict = prof  # already a plain dict (merged from the two profile rows)
    longtext = {
        f.name
        for f in fields
        if (text_gates or format_gates)
        and isinstance(f.dataType, StringType)
        and (pdict.get(f"len__{f.name}") or 0.0) >= text_min_avg_len
    }
    text_cols = [
        f.name
        for f in fields
        if text_gates
        and f.name in longtext
        and f.name not in domains
        and prof[f"nn__{f.name}"] > 0
    ]
    if text_cols:
        taggs = []
        for c in text_cols:
            col = F.col(c)
            m = _text.repetition_metrics(col)
            in_scope = m["n_words"] >= text_min_words
            for name in _text.REPETITION_GATES:
                taggs.append(
                    F.max(F.when(in_scope, m[name])).alias(f"rep_{name}__{c}")
                )
            taggs.append(
                F.max(_pii.pii_total_from_counts(_pii.pii_counts(col))).alias(
                    f"pii__{c}"
                )
            )
        textprof = df.agg(*taggs).collect()[0].asDict()

    # format gates: ONE extra pass over only the stringly-typed candidates
    # (string, some non-null values, not domain-sized, not free text) —
    # per (column, format) a single "did every non-null value parse" bit via
    # min(ok). The predicate is row_rules.format_ok, the SAME expression the
    # drafted FormatRule will enforce, so the draft is clean by construction.
    formats: dict[str, str] = {}
    if format_gates:
        from .row_rules import format_ok

        known = set(FORMATS)
        bad = [f for f in format_candidates if f not in known]
        if bad:
            from ..errors import SchemaError

            raise SchemaError(
                f"unknown format candidates {bad!r}; known: {sorted(known)}"
            )
        fmt_cols = [
            f.name
            for f in fields
            if isinstance(f.dataType, StringType)
            and f.name not in domains
            and f.name not in longtext
            and prof[f"nn__{f.name}"] > 0
        ]
        if fmt_cols:
            faggs = []
            for c in fmt_cols:
                col = F.col(c)
                for fmt in format_candidates:
                    faggs.append(
                        F.min(
                            F.when(col.isNotNull(), format_ok(col, fmt).cast("int"))
                        ).alias(f"fmt_{fmt}__{c}")
                    )
            frow = df.agg(*faggs).collect()[0].asDict()
            for c in fmt_cols:
                for fmt in format_candidates:  # most-specific-first precedence
                    if frow[f"fmt_{fmt}__{c}"] == 1:
                        formats[c] = fmt
                        break

    # uniqueness: candidates from the (possibly sketched) first pass, then
    # exact confirmation — HLL overcount must not mint a UniqueRule that
    # fails on the profiled table (module docstring). In exact mode the
    # profile numbers ARE exact, so confirmation is a driver-side equality.
    unique_candidates = [
        f.name
        for f in fields
        if n_rows > 0
        and prof[f"nn__{f.name}"] == n_rows
        and prof[f"nd__{f.name}"] >= n_rows * (1.0 - unique_margin)
    ]
    if exact:
        unique_cols = {c for c in unique_candidates if prof[f"nd__{c}"] == n_rows}
    elif unique_candidates and confirm_unique:
        crow = df.agg(
            *[F.count_distinct(F.col(c)).alias(c) for c in unique_candidates]
        ).collect()[0]
        unique_cols = {c for c in unique_candidates if crow[c] == n_rows}
    else:
        unique_cols = set(unique_candidates)

    rules: list[Rule] = []
    for f in sorted(fields, key=lambda x: x.name):
        c = f.name
        nn, nd = prof[f"nn__{c}"], prof[f"nd__{c}"]
        if c in domains:
            rules.append(
                DomainRule(f"suggest_domain_{c}", column=c, values=domains[c])
            )
        if c in conc_bounds:
            # dominance ratchet on the enumerable column: DomainRule pins
            # WHICH values may appear, this pins how lopsided their mix
            # may get (the boilerplate-caption / dying-variant detector)
            b_share, b_hhi = conc_bounds[c]
            rules.append(
                ConcentrationRule(
                    f"suggest_concentration_{c}",
                    column=c,
                    max_top_share=b_share,
                    max_hhi=b_hhi,
                )
            )
        if n_rows > 0 and nn == n_rows:
            rules.append(NotNullRule(f"suggest_not_null_{c}", column=c))
        elif gates and n_rows > 0 and nn < n_rows:
            # nulls were SEEN: not_null would fail, so ratchet the rate
            # instead — permissive rounding keeps the draft validating clean
            rate = (n_rows - nn) / n_rows
            bound = min(
                1.0, math.ceil(rate * (1.0 + null_rate_headroom) * 1e6) / 1e6
            )
            rules.append(
                MetricBoundRule(
                    f"suggest_null_rate_{c}",
                    column=c,
                    metric="null_rate",
                    max=bound,
                    exact=exact,
                )
            )
        if (
            gates
            and isinstance(f.dataType, StringType)
            and c not in domains
            and nd > domain_max_distinct
        ):
            # too wide for a domain: envelope the cardinality instead
            rules.append(
                MetricBoundRule(
                    f"suggest_distinct_{c}",
                    column=c,
                    metric="distinct",
                    min=float(math.floor(nd * (1.0 - distinct_margin))),
                    max=float(math.ceil(nd * (1.0 + distinct_margin))),
                    exact=exact,
                )
            )
        if c in formats:
            # stringly-typed column: every non-null value parsed as this
            # format during profiling (most-specific candidate first), so
            # the gate holds today and refuses tomorrow's 'N/A' / '1.2.3'
            rules.append(
                FormatRule(f"suggest_format_{c}", column=c, format=formats[c])
            )
        if c in text_cols:
            # free-text column: ratchet the quality signals at the observed
            # ceilings. Bounds derive from the ROUNDED 6-dp metric in
            # integer micro-units so the DuckDB oracle reproduces the
            # arithmetic bit-for-bit; permissive ceil keeps the draft clean.
            pii_max = textprof[f"pii__{c}"]
            if pii_max is not None:
                # same headroom treatment as every other gate: ceil of the
                # observed ceiling × (1 + headroom); 0 stays 0 (a PII-free
                # corpus ratchets at zero — slack on nothing is nothing)
                bound = int(math.ceil(int(pii_max) * (1.0 + text_headroom)))
                rules.append(
                    PiiRule(f"suggest_pii_{c}", column=c, max_total=bound)
                )
            for name in _text.REPETITION_GATES:
                observed = textprof[f"rep_{name}__{c}"]
                if observed is None:  # no row reached text_min_words
                    continue
                om = round(observed * 1e6)
                limit = _text.REPETITION_METRIC_LIMITS[name]
                bound = min(limit, math.ceil(om * (1.0 + text_headroom)) / 1e6)
                rules.append(
                    RepetitionRule(
                        f"suggest_rep_{name}_{c}",
                        column=c,
                        metric=name,
                        max=bound,
                        min_words=text_min_words,
                    )
                )
        if isinstance(f.dataType, _NUMERIC) and nn > 0:
            rules.append(
                RangeRule(
                    f"suggest_range_{c}",
                    column=c,
                    min=float(prof[f"mn__{c}"]),
                    max=float(prof[f"mx__{c}"]),
                )
            )
            if gates:
                p99 = float(prof[f"q99__{c}"])
                bound = (
                    math.ceil((p99 + abs(p99) * quantile_headroom) * 1e6) / 1e6
                )
                rules.append(
                    MetricBoundRule(
                        f"suggest_p99_{c}",
                        column=c,
                        metric="p99",
                        max=bound,
                        exact=exact,
                    )
                )
        if drift and nn > 0 and (
            isinstance(f.dataType, _NUMERIC) or c in domains
        ):
            # the distribution ratchet: exact invariants churn on every
            # append, but the SHAPE of a healthy column is stable — draft a
            # PSI gate against the persisted profile snapshot (see
            # suggest_profile_snapshot; the drift analog of the p99 gate).
            # Numeric columns drift on quantile bins; small-cardinality
            # string columns (the DomainRule set) on category frequencies.
            rules.append(
                DriftRule(
                    f"suggest_drift_{c}",
                    column=c,
                    method="psi",
                    threshold=drift_threshold,
                    n_bins=drift_bins,
                    exact_edges=exact,
                    categorical=c in domains,
                    reference=drift_reference,
                )
            )
        if c in unique_cols:
            rules.append(UniqueRule(f"suggest_unique_{c}", columns=(c,)))
    if association_gates and len(domains) >= 2:
        # pairwise coupling ratchet over the domain-sized columns: observed
        # V (rounded 6dp, the value AssociationRule compares) ± headroom in
        # integer micro-units, clamped to [0, 1]; min_slack keeps a
        # near-independent pair from drafting a zero-width band
        from itertools import combinations

        from .association import MAX_ASSOC_CELLS, _cells, _chi2

        slack_floor = int(round(association_min_slack * 1e6))
        for a, b in combinations(sorted(domains), 2):
            what = f"suggest_assoc_{a}__{b}"
            cells = _cells(df, a, b, MAX_ASSOC_CELLS, what)
            _, _, _, dof, _, v = _chi2(cells, MAX_ASSOC_CELLS, what)
            if dof == 0:
                continue  # constant column: no association statement
            v_m = int(round(round(v, 6) * 1e6))
            slack = max(int(math.ceil(v_m * association_headroom)), slack_floor)
            rules.append(
                AssociationRule(
                    what,
                    col_a=a,
                    col_b=b,
                    min_v=max(0, v_m - slack) / 1e6,
                    max_v=min(1_000_000, v_m + slack) / 1e6,
                )
            )

    if alignment_pairs:
        # cross-modal cosine floor ratchet: observed MIN rounded cosine per
        # declared (a, b) embedding pair, minus absolute headroom (floored
        # to 6 dp the permissive way, clamped to [-1, 1]). Drafted ONLY when
        # the profile saw zero dim-mismatch / undefined-cosine rows — those
        # violate an AlignmentRule regardless of band, so a draft over dirty
        # pairs would fail immediately (not a ratchet; fix the pairs first).
        from pyspark.sql.types import ArrayType

        from ..errors import SchemaError

        ftypes = {f.name: f.dataType for f in fields}
        for a, b in alignment_pairs:
            if a == b:
                raise SchemaError(
                    f"alignment pair ({a!r}, {a!r}): self-alignment is vacuous"
                )
            for c in (a, b):
                if c not in ftypes:
                    raise SchemaError(f"alignment pair column {c!r} not in df")
                if not isinstance(ftypes[c], ArrayType):
                    raise SchemaError(
                        f"alignment pair column {c!r} is "
                        f"{ftypes[c].simpleString()}, need an array column"
                    )

        def _albad(v):
            return F.exists(
                v,
                lambda x: x.isNull()
                | F.isnan(x)
                | (F.abs(x.cast("double")) == F.lit(float("inf"))),
            )

        def _alsq(v):
            return F.aggregate(
                v,
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )

        alaggs = []
        for i, (a, b) in enumerate(alignment_pairs):
            ca, cb = F.col(a), F.col(b)
            dot = F.aggregate(
                F.zip_with(
                    ca, cb, lambda x, y: x.cast("double") * y.cast("double")
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            denom = F.sqrt(_alsq(ca)) * F.sqrt(_alsq(cb))
            in_scope = ca.isNotNull() & cb.isNotNull()
            mismatch = F.size(ca) != F.size(cb)
            undef = _albad(ca) | _albad(cb) | (denom == F.lit(0.0))
            cosr = F.round(dot / denom, 6)
            alaggs += [
                F.count(F.when(in_scope & mismatch, 1)).alias(f"al_mis__{i}"),
                F.count(F.when(in_scope & ~mismatch & undef, 1)).alias(
                    f"al_bad__{i}"
                ),
                F.min(
                    F.when(in_scope & ~mismatch & ~undef, cosr)
                ).alias(f"al_min__{i}"),
            ]
        arow = df.agg(*alaggs).collect()[0].asDict()
        for i, (a, b) in enumerate(alignment_pairs):
            if arow[f"al_mis__{i}"] or arow[f"al_bad__{i}"]:
                continue  # dirty pair: any band fails on day one
            mn = arow[f"al_min__{i}"]
            if mn is None:
                continue  # no in-scope pairs: nothing observed to ratchet
            # integer micro-units: (0.6 - 0.05)*1e6 floats to 549999.999…,
            # which a naive floor would turn into an off-by-one-micro band
            mn_m = int(round(mn * 1e6))
            hr_m = int(round(alignment_headroom * 1e6))
            floor = max(-1_000_000, mn_m - hr_m) / 1e6
            rules.append(
                AlignmentRule(
                    f"suggest_align_{a}__{b}",
                    column_a=a,
                    column_b=b,
                    min_cos=floor,
                )
            )

    if embedding_health_columns:
        # encoder-health ratchet: observe the matrix statistics once per
        # declared embedding column (operators/similarity.py — one
        # map-side-combined aggregation row each) and pin them: no NEW dead
        # dimensions beyond today's (max_dead_dims = observed) and
        # anisotropy at most observed + headroom (integer micro-units, the
        # alignment-ratchet float-epsilon discipline; clamped to the
        # lint-satisfiable (0, 1]). A column whose usable rows disagree on
        # dimensionality, sits outside the aggregation budget, or has no
        # usable vectors at all is SKIPPED — a matrix profile over mixed
        # shapes describes nothing, and that dirtiness is VectorRule's job
        # to flag, not this ratchet's to average away.
        from pyspark.sql.types import ArrayType

        from ..errors import SchemaError
        from ..spec import EmbeddingHealthRule
        from .similarity import _HEALTH_DIM_MAX, embedding_anisotropy

        ftypes = {f.name: f.dataType for f in fields}
        for c in embedding_health_columns:
            if c not in ftypes:
                raise SchemaError(f"embedding_health column {c!r} not in df")
            if not isinstance(ftypes[c], ArrayType):
                raise SchemaError(
                    f"embedding_health column {c!r} is "
                    f"{ftypes[c].simpleString()}, need an array column"
                )
        # one cheap size probe for ALL declared columns (fused aggregation)
        szaggs = []
        for i, c in enumerate(embedding_health_columns):
            sz = F.size(F.col(c))
            szaggs += [
                F.min(F.when(F.col(c).isNotNull(), sz)).alias(f"eh_lo__{i}"),
                F.max(F.when(F.col(c).isNotNull(), sz)).alias(f"eh_hi__{i}"),
            ]
        szrow = df.agg(*szaggs).collect()[0].asDict()
        for i, c in enumerate(embedding_health_columns):
            lo, hi = szrow[f"eh_lo__{i}"], szrow[f"eh_hi__{i}"]
            if lo is None or lo != hi or not 1 <= lo <= _HEALTH_DIM_MAX:
                continue  # mixed/absent/over-cap dims: not ratchetable
                # (512 < dim <= cap now profiles via the wide path)
            hrow = embedding_anisotropy(df, vec_col=c, dim=int(lo)).collect()[0]
            if hrow["rows_used"] == 0 or hrow["anisotropy"] is None:
                continue
            an_m = int(round(hrow["anisotropy"] * 1e6))
            hr_m = int(round(embedding_health_headroom * 1e6))
            bound = min(1_000_000, max(1, an_m + hr_m)) / 1e6
            rules.append(
                EmbeddingHealthRule(
                    f"suggest_embedding_health_{c}",
                    column=c,
                    dim=int(lo),
                    max_dead_dims=int(hrow["dead_dims"]),
                    max_anisotropy=bound,
                    min_rows=min(1000, int(hrow["rows_used"])),
                )
            )

    if pixel_gates and not 1e-6 <= pixel_sample_rate <= 1:
        from ..errors import SchemaError

        raise SchemaError(
            f"pixel_sample_rate must be in [1e-6, 1], got "
            f"{pixel_sample_rate} — the drafted rules embed this rate and "
            "their compile would reject it"
        )
    if pixel_gates and n_rows > 0:
        # Image-payload gates, drafted from ONE sampled decode pass per
        # binary column (the user's pixel_sample_rate IS the profile budget;
        # the drafted rules carry the SAME rate, and the kernel's
        # content-keyed sample picks the SAME rows, so every threshold below
        # was observed on exactly the population the gate will judge —
        # clean-by-construction). When the schema carries the full pixel
        # contract (w/h int, fmt string, phash long alongside the payload),
        # the stats ride the pixel verify (quality=True): one decode drafts
        # BOTH rules.
        from pyspark.sql.types import BinaryType, IntegerType, LongType

        from ..spec import DegenerateImageRule, PixelRule
        from . import pixel as _pixel

        types = {f.name: f.dataType for f in fields}

        def _is_int(t):
            return isinstance(t, (IntegerType, LongType))

        src_df = (
            df
            if "partition_id" in df.columns
            else df.withColumn("partition_id", F.lit(-1))
        )
        for c in sorted(f.name for f in fields if isinstance(f.dataType, BinaryType)):
            # the w/h/fmt/phash contract columns describe THE payload column
            # ("bytes" by convention) — verifying a second binary column
            # (thumbnails, previews) against the main image's dims/phash
            # would profile a ~100% fail rate and draft a vacuous tolerance,
            # so other binary columns get the payload-agnostic quality
            # profile only
            full_contract = c == "bytes" and (
                _is_int(types.get("w"))
                and _is_int(types.get("h"))
                and isinstance(types.get("fmt"), StringType)
                and isinstance(types.get("phash"), LongType)
            )
            if full_contract:
                checks = _pixel.pixel_check_results(
                    src_df,
                    PixelRule(
                        f"__profile_{c}",
                        bytes_column=c,
                        sample_rate=pixel_sample_rate,
                    ),
                    key_column,
                    quality=True,
                )
            else:
                checks = _pixel.quality_only_results(
                    src_df,
                    DegenerateImageRule(
                        f"__profile_{c}",
                        bytes_column=c,
                        sample_rate=pixel_sample_rate,
                    ),
                    key_column,
                )
            crow = checks.agg(
                F.count(F.when(F.col("decoded").isNotNull(), 1)).alias("n"),
                F.count(F.when(~F.col("decoded"), 1)).alias("n_undec"),
                F.count(F.when(~F.col("ok"), 1)).alias("n_px_fail"),
                F.min("contrast").alias("mn_c"),
                F.max("saturated_frac").alias("mx_s"),
                F.min("channel_diff").alias("mn_cd"),
            ).collect()[0]
            if crow["n"] == 0:
                continue  # empty sample: nothing observed to ratchet
            # contrast floor: just under the least-contrasty observed image
            # (an observed blank drags it to 0 — the ratchet can't gate what
            # is already present; 0 disables the blank class, loudly visible
            # in the drafted value). saturated ceiling: padded observed max,
            # never ratcheted below 0.05 (normal corpora sit near 0.01 — a
            # micro-ceiling would page on the first binary logo).
            mn_c = crow["mn_c"]
            floor = (
                0.0
                if mn_c is None
                else max(
                    0.0, math.floor(mn_c * (1.0 - pixel_headroom) * 1e6) / 1e6
                )
            )
            mx_s = crow["mx_s"] or 0.0
            ceil_s = min(
                1.0,
                max(0.05, math.ceil(mx_s * (1.0 + pixel_headroom) * 1e6) / 1e6),
            )
            # grayscale floor: just under the least-colorful observed image
            # (an observed grayscale drags it to 0 = class disabled, loudly
            # visible in the drafted value; an all-color corpus gets a real
            # color-collapse tripwire)
            mn_cd = crow["mn_cd"]
            gray_floor = (
                None
                if mn_cd is None
                else max(
                    0.0,
                    math.floor(mn_cd * (1.0 - pixel_headroom) * 1e6) / 1e6,
                )
            )
            undec_rate = crow["n_undec"] / crow["n"]
            tol = (
                None
                if undec_rate == 0
                else min(
                    0.999999,
                    math.ceil(undec_rate * (1.0 + pixel_headroom) * 1e6) / 1e6,
                )
            )
            rules.append(
                DegenerateImageRule(
                    f"suggest_degenerate_{c}",
                    bytes_column=c,
                    contrast_floor=floor,
                    saturated_ceiling=ceil_s,
                    grayscale_floor=gray_floor,
                    sample_rate=pixel_sample_rate,
                    max_violation_rate=tol,
                )
            )
            if full_contract:
                fail_rate = crow["n_px_fail"] / crow["n"]
                px_tol = (
                    None
                    if fail_rate == 0
                    else min(
                        0.999999,
                        math.ceil(fail_rate * (1.0 + pixel_headroom) * 1e6)
                        / 1e6,
                    )
                )
                rules.append(
                    PixelRule(
                        f"suggest_pixel_{c}",
                        bytes_column=c,
                        sample_rate=pixel_sample_rate,
                        max_violation_rate=px_tol,
                    )
                )

    if gates and n_rows > 0:
        # volume floor: growth is fine, silent truncation is the failure mode
        rules.append(
            MetricBoundRule(
                "suggest_volume",
                column=key_column,
                metric="count",
                min=float(math.floor(n_rows * (1.0 - volume_margin))),
                exact=exact,
            )
        )
    rules.append(
        SchemaRule(
            "suggest_schema",
            expected=tuple(
                (f.name, f.dataType.simpleString())
                for f in sorted(fields, key=lambda x: x.name)
            ),
        )
    )
    return Spec(rules=tuple(rules), key_column=key_column, n_partitions=n_partitions)


def suggest_profile_snapshot(
    df: DataFrame, spec: Spec, reference: str = "suggest_profile"
) -> DataFrame:
    """The persisted half of the drift ratchet: profile ``df`` once for the
    drafted ``DriftRule(reference=...)`` gates in ``spec`` and return the
    compact snapshot frame (drift.SNAPSHOT_DDL — bin edges/categories +
    reference histogram counts, O(rules × bins) rows). Persist it and pass
    it as ``dims={reference: snapshot}`` to every later validation run:
    "profile once, ratchet everything" — later runs never rescan (or even
    retain) the profiled table."""
    from .drift import profile_snapshot

    drs = [
        r
        for r in spec.rules
        if isinstance(r, DriftRule) and r.reference == reference
    ]
    if not drs:
        from ..errors import SchemaError

        raise SchemaError(
            f"spec has no DriftRule with reference {reference!r} — draft "
            "with suggest_spec(drift=True) first"
        )
    return profile_snapshot(df, drs)


def suggestion_rows(spark, spec: Spec) -> DataFrame:
    """Render a suggested Spec as a deterministic DataFrame
    (column, kind, detail) for reports and oracle comparison. Schema-pin
    rows are omitted (engine dtype names are not portable across engines)."""
    rows = []
    for r in spec.rules:
        if isinstance(r, DomainRule):
            rows.append((r.column, "domain", "in {" + ", ".join(r.values) + "}"))
        elif isinstance(r, NotNullRule):
            rows.append((r.column, "not_null", ""))
        elif isinstance(r, RangeRule):
            rows.append((r.column, "range", f"[{r.min}, {r.max}]"))
        elif isinstance(r, UniqueRule):
            rows.append((r.columns[0], "unique", ""))
        elif isinstance(r, MetricBoundRule):
            # fixed-width numeric rendering so an external engine (the
            # DuckDB oracle) can reproduce the string byte-for-byte
            if r.metric == "null_rate":
                rows.append(
                    (r.column, "bound_null_rate", f"null_rate <= {r.max:.6f}")
                )
            elif r.metric == "distinct":
                rows.append(
                    (
                        r.column,
                        "bound_distinct",
                        f"distinct in [{int(r.min)}, {int(r.max)}]",
                    )
                )
            elif r.metric == "count":
                rows.append((r.column, "bound_count", f"count >= {int(r.min)}"))
            elif r.metric == "p99":
                rows.append((r.column, "bound_p99", f"p99 <= {r.max:.6f}"))
        elif isinstance(r, DriftRule):
            shape = "categories" if r.categorical else f"{r.n_bins} bins"
            rows.append(
                (r.column, "drift", f"psi <= {r.threshold:.6f} vs {r.reference} ({shape})")
            )
        elif isinstance(r, FormatRule):
            rows.append((r.column, "format", f"format = {r.format}"))
        elif isinstance(r, AssociationRule):
            # min_v / max_v are independently optional — render open
            # bounds the CountRule way instead of formatting None
            if r.min_v is not None and r.max_v is not None:
                band = f"cramers_v in [{r.min_v:.6f}, {r.max_v:.6f}]"
            elif r.min_v is not None:
                band = f"cramers_v >= {r.min_v:.6f}"
            else:
                band = f"cramers_v <= {r.max_v:.6f}"
            rows.append((f"{r.col_a},{r.col_b}", "association", band))
        elif isinstance(r, ConcentrationRule):
            # single-bound rules are a legal configuration ("max_top_share
            # and/or max_hhi") — render only the bounds that are set
            bounds = []
            if r.max_top_share is not None:
                bounds.append(f"top_share <= {r.max_top_share:.6f}")
            if r.max_hhi is not None:
                bounds.append(f"hhi <= {r.max_hhi:.6f}")
            rows.append((r.column, "concentration", ", ".join(bounds)))
        elif isinstance(r, AlignmentRule):
            rows.append(
                (
                    f"{r.column_a},{r.column_b}",
                    "alignment",
                    f"cos >= {r.min_cos:.6f}",
                )
            )
        elif isinstance(r, EmbeddingHealthRule):
            rows.append(
                (
                    r.column,
                    "embedding_health",
                    f"dim={r.dim}, dead_dims <= {r.max_dead_dims}, "
                    f"anisotropy <= {r.max_anisotropy:.6f} "
                    f"(min_rows={r.min_rows})",
                )
            )
        elif isinstance(r, PiiRule):
            rows.append((r.column, "pii", f"pii_total <= {r.max_total}"))
        elif isinstance(r, RepetitionRule):
            rows.append(
                (
                    r.column,
                    "repetition",
                    f"{r.metric} <= {r.max:.6f} (min_words={r.min_words})",
                )
            )
    return local_frame(spark, "column_name string, kind string, detail string", rows)
