"""Constraint suggestion — profile a table once, emit the checks it
already satisfies, then enforce them on the next batch.

Closes the validator's loop (Deequ's ConstraintSuggestion): the
reference ships a FIXED check registry (htm_streamer/utils/
validation.py — null/len/range/dup checks chosen by a human); here the
engine derives the registry from the data itself, so a new table gets
a tailored suite without anyone reading it first.

Suggested kinds:
- ``not_null``      — column had zero nulls
- ``min_bound`` / ``max_bound`` — numeric range, padded outward by
  ``pad_frac`` of the observed span so legitimate fresh data near the
  edge doesn't false-alarm
- ``in_domain``     — exact value set for low-cardinality strings
  (gated by an approx_count_distinct probe FIRST, so a high-cardinality
  column never triggers a giant collect_set)

Scale notes: suggestion is ONE aggregation pass for the probe (plus
one more for the exact domains of the columns that passed the gate);
checking is ONE aggregation pass total for the whole suite (every
constraint folds into the same agg — never a scan per constraint).
The spec itself is driver-side metadata (a list of dicts, JSON-able).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["suggest_constraints", "check_constraints"]


def suggest_constraints(
    df: DataFrame,
    numeric_cols: list[str],
    string_cols: list[str],
    domain_max: int = 50,
    pad_frac: float = 0.05,
) -> list[dict]:
    """Derive the constraint spec a table currently satisfies (see
    module docstring). Returns a JSON-able list of dicts with keys
    (column, kind, ...params)."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in numeric_cols:
        aggs += [
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}"),
        ]
    for c in string_cols:
        aggs += [
            F.approx_count_distinct(c).alias(f"adist_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}"),
        ]
    probe = df.agg(*aggs).collect()[0]  # one row of metadata

    spec: list[dict] = []
    for c in numeric_cols + string_cols:
        if probe[f"nulls_{c}"] == 0:
            spec.append({"column": c, "kind": "not_null"})
    for c in numeric_cols:
        lo, hi = probe[f"min_{c}"], probe[f"max_{c}"]
        if lo is None:
            continue
        pad = (float(hi) - float(lo)) * pad_frac
        spec.append(
            {"column": c, "kind": "min_bound", "value": float(lo) - pad}
        )
        spec.append(
            {"column": c, "kind": "max_bound", "value": float(hi) + pad}
        )
    # exact domains only for columns the sketch says are small; the
    # 2x slack covers approx_count_distinct's error band
    domain_cols = [
        c for c in string_cols if probe[f"adist_{c}"] <= 2 * domain_max
    ]
    if domain_cols:
        drow = df.agg(
            *[F.collect_set(c).alias(c) for c in domain_cols]
        ).collect()[0]
        for c in domain_cols:
            vals = sorted(drow[c])
            if len(vals) <= domain_max:
                spec.append(
                    {"column": c, "kind": "in_domain", "values": vals}
                )
    return spec


def _violates(constraint: dict):
    c = F.col(constraint["column"])
    kind = constraint["kind"]
    if kind == "not_null":
        return c.isNull()
    if kind == "min_bound":
        return c.isNotNull() & (c < F.lit(constraint["value"]))
    if kind == "max_bound":
        return c.isNotNull() & (c > F.lit(constraint["value"]))
    if kind == "in_domain":
        return c.isNotNull() & ~c.isin(constraint["values"])
    raise ValueError(f"unknown constraint kind: {kind}")


def check_constraints(df: DataFrame, spec: list[dict]) -> DataFrame:
    """Run a suggested spec in ONE aggregation pass: every constraint
    becomes a conditional sum in the same agg. Returns one row per
    constraint: (constraint_id, column, kind, n_violations, passed)."""
    aggs = [
        # coalesce: sum over an EMPTY batch is NULL, and an empty batch
        # has zero violations, not an unknown count
        F.coalesce(F.sum(_violates(con).cast("long")), F.lit(0)).alias(f"_v{i}")
        for i, con in enumerate(spec)
    ]
    row = df.agg(*aggs).collect()[0] if aggs else {}
    out = [
        (
            f"{con['column']}.{con['kind']}",
            con["column"],
            con["kind"],
            int(row[f"_v{i}"]),
            bool(row[f"_v{i}"] == 0),
        )
        for i, con in enumerate(spec)
    ]
    return df.sparkSession.createDataFrame(
        out,
        "constraint_id string, column string, kind string, "
        "n_violations long, passed boolean",
    )
