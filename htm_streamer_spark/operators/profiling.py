"""Relationship and segment profiling — the pre-flight checks a
validator runs before trusting a join or a global metric.

- ``join_profile``: what relationship do two tables actually have on a
  key (1:1, 1:N, N:1, M:N), what's the worst fanout, and how many keys
  are orphaned on each side? A join that "should be" 1:N but is M:N
  multiplies rows silently — at 10^12-row scale that's the difference
  between a result and an OOM. The reference validates single-table
  invariants only (htm_streamer/utils/validation.py); cross-table
  shape is the missing pre-join gate.
- ``worst_segments_mean``: per-segment mean vs the global mean, ranked
  by absolute deviation — the drill-down that finds "null rate is fine
  globally but 40% in one source" failures that global gates
  structurally cannot see (Simpson-style masking).

Scale notes: ``join_profile`` aggregates each side to per-key counts
first (map-side combinable), then joins the two *key-counts* frames —
the shuffle carries one row per distinct key, never the fact rows.
``worst_segments_mean`` is one aggregation plus a broadcast of the
1-row global frame. No collect, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["join_profile", "time_gaps", "worst_segments_mean"]


def join_profile(
    left: DataFrame, right: DataFrame, key: str
) -> DataFrame:
    """One-row relationship profile of ``left`` vs ``right`` on
    ``key``: cardinality class ('1:1' | '1:N' | 'N:1' | 'M:N'),
    max/avg fanout per side, matched-key count, orphan-key counts, and
    the exact row count an inner join on ``key`` would produce
    (Σ left_count·right_count over matched keys — the row-explosion
    estimate to check BEFORE running the join)."""
    lc = left.groupBy(key).agg(F.count(F.lit(1)).alias("lc"))
    rc = right.groupBy(key).agg(F.count(F.lit(1)).alias("rc"))
    j = lc.join(rc, key, "full_outer").select(
        F.col("lc"), F.col("rc")
    )
    agg = j.agg(
        F.max("lc").alias("max_left_fanout"),
        F.max("rc").alias("max_right_fanout"),
        F.sum(
            F.when(F.col("lc").isNotNull() & F.col("rc").isNotNull(), 1)
            .otherwise(0)
        ).alias("matched_keys"),
        F.sum(F.when(F.col("rc").isNull(), 1).otherwise(0)).alias(
            "left_only_keys"
        ),
        F.sum(F.when(F.col("lc").isNull(), 1).otherwise(0)).alias(
            "right_only_keys"
        ),
        F.sum(
            F.when(
                F.col("lc").isNotNull() & F.col("rc").isNotNull(),
                F.col("lc") * F.col("rc"),
            ).otherwise(F.lit(0))
        ).alias("inner_join_rows"),
        F.max(
            F.when(F.col("rc").isNotNull(), F.col("lc")).otherwise(0)
        ).alias("_ml"),
        F.max(
            F.when(F.col("lc").isNotNull(), F.col("rc")).otherwise(0)
        ).alias("_mr"),
    )
    # cardinality judged on MATCHED keys only: orphans affect
    # completeness (reported separately), not multiplicity
    card = (
        F.when((F.col("_ml") <= 1) & (F.col("_mr") <= 1), "1:1")
        .when(F.col("_ml") <= 1, "1:N")
        .when(F.col("_mr") <= 1, "N:1")
        .otherwise("M:N")
    )
    return agg.select(
        card.alias("cardinality"),
        "max_left_fanout",
        "max_right_fanout",
        "matched_keys",
        "left_only_keys",
        "right_only_keys",
        "inner_join_rows",
    )


def worst_segments_mean(
    df: DataFrame,
    segment_col: str,
    value: Column,
    metric_name: str = "metric",
    top_k: int = 10,
    decimals: int = 6,
) -> DataFrame:
    """Per-segment mean of ``value`` next to the global mean, ranked by
    absolute deviation (segment name breaks ties), top-k. Exposes
    segments a global gate masks. Because a mean decomposes as Σv/Σn,
    the global value derives from the per-segment sums, so the fact
    table is scanned ONCE (a generic aggregate would need a second
    scan for the global value; at 100 TB that scan is the whole cost).
    ``value`` is a per-row expression (e.g.
    ``(col('x') < 100).cast('double')``). Output columns: segment (as
    named), <metric_name>, global_<metric_name>, abs_dev, n_rows."""
    per = df.groupBy(segment_col).agg(
        F.sum(value.cast("double")).alias("_sum"),
        F.count(F.lit(1)).alias("n_rows"),
    ).persist()
    glob = per.agg(
        F.round(F.sum("_sum") / F.sum("n_rows"), decimals).alias(
            f"global_{metric_name}"
        )
    )
    seg_metric = per.select(
        segment_col,
        F.round(F.col("_sum") / F.col("n_rows"), decimals).alias(
            metric_name
        ),
        "n_rows",
    )
    scored = seg_metric.crossJoin(F.broadcast(glob)).select(
        segment_col,
        metric_name,
        f"global_{metric_name}",
        F.abs(F.col(metric_name) - F.col(f"global_{metric_name}")).alias(
            "abs_dev"
        ),
        "n_rows",
    )
    # deterministic: deviation desc, then segment asc tie-break
    return scored.orderBy(
        F.col("abs_dev").desc(), F.col(segment_col).asc()
    ).limit(top_k)


def json_key_profile(
    df: DataFrame,
    json_col: str,
) -> DataFrame:
    """Top-level key-presence profile of a JSON string column — the
    SEMI-STRUCTURED member of the schema-drift family:
    ``validate_input_schema`` gates declared columns, this watches the keys
    hiding inside a properties blob (the place upstream teams add,
    rename, and drop fields without telling anyone). A key whose
    presence_rate decays is being abandoned; a new key appearing is an
    implicit schema migration; rate != 1.0 on a "required" key is a
    violation feed.

    Per distinct top-level key: how many rows carry it and the rate
    over ALL rows (malformed/NULL JSON rows count in the denominator —
    a blob you cannot parse is exactly a presence failure). Returns
    (key, n_present, presence_rate) sorted by the caller; 6 dp.

    Plan: one scan — ``json_object_keys`` + ``explode_outer`` (the
    plan-hygiene rule: a plain explode would let
    InferFiltersFromGenerate re-parse the JSON inside a pushed-down
    filter), one ``groupBy(key)`` shuffle over key-sized rows, the
    one-row total broadcast back.
    """
    # persist the narrow column: the total and the key explode both
    # derive from it — one scan
    narrow = df.select(json_col).persist()
    total = narrow.agg(
        F.count(F.lit(1)).cast("double").alias("_n")
    ).withColumn("_j", F.lit(1))
    keys = (
        narrow.select(
            F.explode_outer(F.json_object_keys(F.col(json_col))).alias(
                "key"
            )
        )
        .where(F.col("key").isNotNull())
        .groupBy("key")
        .agg(F.count(F.lit(1)).cast("long").alias("n_present"))
        .withColumn("_j", F.lit(1))
        .join(F.broadcast(total), "_j")
    )
    return keys.select(
        "key",
        "n_present",
        F.round(
            F.col("n_present") / F.col("_n") + F.lit(1e-9), 6
        ).alias("presence_rate"),
    )


def json_type_profile(
    df: DataFrame,
    json_col: str,
) -> DataFrame:
    """Per (top-level key, canonical value TYPE) profile of a JSON
    string column — the TYPE member of the semi-structured
    schema-drift family: ``json_key_profile`` sees a key appear or
    decay, this sees a key silently change type (the `"5"`-vs-`5`
    migration that breaks every downstream parser while presence
    stays 100%). A key that is 95% int / 5% string IS the violation
    feed.

    Types are canonicalized to {null, bool, int, float, string,
    array, object}, with numbers classified by VALUE, not lexeme:
    ``int`` = integer-valued (``5``, ``2.0`` and ``1e2`` all canon to
    int), ``float`` = fractional. Value-based is the only PORTABLE
    contract: Spark's variant normalizes ``2.0`` to ``DECIMAL(1,0)``
    (the trailing-zero lexeme is unrecoverable) while DuckDB's
    ``json_type`` reports the lexeme class ``DOUBLE`` — so any
    syntax-based mapping diverges on trailing-zero decimals. Spark
    mapping (``schema_of_variant(variant_get(...))``): VOID→null,
    int types and DECIMAL(p,0)→int, DECIMAL(p,s>0)→float (variant
    strips trailing zeros, so scale>0 implies a genuine fraction),
    DOUBLE/FLOAT→integral-value check, ARRAY<…>→array,
    OBJECT/STRUCT→object. The DuckDB twin maps
    BIGINT/UBIGINT/HUGEINT→int and applies the same integral-value
    check to DOUBLE. Share is within-key: ``n / Σ n over the key`` —
    presence itself is the sibling operator's job.

    Plan: one scan — ``json_object_keys`` + ``explode_outer`` (the
    plan-hygiene rule), variant functions are JVM codegen (no
    Python), one ``groupBy(key, vtype)`` shuffle over key×type-sized
    rows; the within-key total is a window on that aggregated frame.
    Malformed/NULL blobs produce no keys and are skipped (presence
    accounting lives in ``json_key_profile``). Returns
    (key, vtype, n, share), 6 dp.
    """
    from pyspark.sql import Window

    from htm_streamer_spark.operators.dedup import fan_out_narrow_scans

    # fan out the narrow blob projection (the per-row variant parsing
    # inherits the scan's split count — guide §2.5; no-op at real
    # scale); parse the variant ONCE per row and extract each key's
    # value ONCE — the inlined form re-parsed the blob per expression
    # (3 parses/row)
    keyed = (
        fan_out_narrow_scans(df.select(F.col(json_col).alias("_js")))
        .select(
            F.explode_outer(F.json_object_keys("_js")).alias("key"),
            F.expr("try_parse_json(_js)").alias("_v"),
        )
        .where(F.col("key").isNotNull())
        .select("key", F.expr("variant_get(_v, '$.' || key)").alias("_g"))
    )
    t = F.expr("schema_of_variant(_g)")
    x = F.expr("try_cast(_g AS DOUBLE)")
    typed = keyed.select("key", t.alias("_t"), x.alias("_x"))
    canon = (
        F.when(F.col("_t") == "VOID", "null")
        .when(F.col("_t") == "BOOLEAN", "bool")
        .when(
            F.col("_t").isin("TINYINT", "SMALLINT", "INT", "BIGINT"), "int"
        )
        .when(F.col("_t").rlike(r"^DECIMAL\([0-9]+,0\)$"), "int")
        .when(F.col("_t").startswith("DECIMAL"), "float")
        .when(
            (F.col("_t") == "DOUBLE") | (F.col("_t") == "FLOAT"),
            # integral test via fmod, NOT floor: Spark floor(double)
            # returns BIGINT and ANSI-overflows on e.g. 1e300
            F.when(
                F.col("_x").isNotNull()
                & ((F.col("_x") % F.lit(1.0)) == F.lit(0.0)),
                F.lit("int"),
            ).otherwise(F.lit("float")),
        )
        .when(F.col("_t") == "STRING", "string")
        .when(F.col("_t").startswith("ARRAY"), "array")
        .when(
            F.col("_t").startswith("OBJECT")
            | F.col("_t").startswith("STRUCT"),
            "object",
        )
        .otherwise("other")
    )
    agg = typed.select("key", canon.alias("vtype")).groupBy(
        "key", "vtype"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w_key = Window.partitionBy("key")
    return agg.select(
        "key",
        "vtype",
        "n",
        F.round(
            F.col("n") / F.sum("n").over(w_key) + F.lit(1e-9), 6
        ).alias("share"),
    )


def time_gaps(
    df: DataFrame,
    ts_col: str,
    group_col: str,
    bucket: str = "hour",
) -> DataFrame:
    """(group, gap_start): every ``bucket``-grain time slot BETWEEN a
    group's first and last event that contains NO rows — the
    ingestion-hole detector (a feed that silently dropped Tuesday's
    files passes every row-level check; the hole only exists at the
    bucket grain).

    Shape: one aggregation to the (group, bucket) grain, one min/max
    reduction per group, then ``sequence()`` EXPLODES the expected
    slots from the bounds — the expected frame is bounded by
    groups × slots (metadata-scale: a year of hours is 8,760 rows per
    group, whatever the fact-table size), and the anti-join against
    the observed (group, bucket) frame is broadcast-eligible on both
    sides. The 100 TB of raw rows are touched exactly once, by the
    first aggregation.
    """
    b = F.date_trunc(bucket, F.col(ts_col)).alias("_b")
    observed = df.select(F.col(group_col), b).groupBy(group_col, "_b").agg(
        F.count(F.lit(1)).alias("_n")
    )
    step = {"hour": "interval 1 hour", "day": "interval 1 day",
            "minute": "interval 1 minute"}[bucket]
    expected = (
        observed.groupBy(group_col)
        .agg(F.min("_b").alias("_lo"), F.max("_b").alias("_hi"))
        .select(
            group_col,
            F.explode(
                F.sequence(F.col("_lo"), F.col("_hi"), F.expr(step))
            ).alias("gap_start"),
        )
    )
    return expected.join(
        observed.select(group_col, F.col("_b").alias("gap_start")),
        [group_col, "gap_start"],
        "left_anti",
    )


def freshness(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    recent_hours: int = 24,
) -> DataFrame:
    """Per-group freshness/staleness readout: (group, n_rows, first_ts,
    last_ts, staleness_sec, n_recent, recent_share).

    ``time_gaps`` above finds holes INSIDE a feed's span; freshness
    finds the feed whose span has silently STOPPED — the upstream
    producer that died is invisible to every row-level and
    distributional check (all its existing rows are perfectly valid),
    but its ``last_ts`` drifts away from the corpus watermark.
    ``staleness_sec`` = corpus max(ts) − group max(ts), measured
    against the data's own watermark rather than wall-clock ``now()``
    so the readout is deterministic and replayable (a validator re-run
    tomorrow over the same snapshot must produce the same verdict).
    ``recent_share`` = fraction of the group's rows in the trailing
    ``recent_hours`` HOUR BUCKETS of the watermark (boundaries at the
    hour grain, exactly reproducible cross-engine) — a feed can keep a
    fresh last_ts from a trickle while its volume has collapsed; the
    share catches that.

    Plan: ONE fact scan aggregated to the (group, hour) grain
    (map-side combinable); the watermark and all readouts derive from
    that metadata-sized frame (groups × active hours) via over-()
    windows — the fact table is never touched again.
    """
    from pyspark.sql import Window

    ts = F.col(ts_col)
    hour = F.date_trunc("hour", ts)
    cell = df.groupBy(F.col(group_col).alias("_g"), hour.alias("_h")).agg(
        F.count(F.lit(1)).alias("_n"),
        F.min(ts).alias("_min_ts"),
        F.max(ts).alias("_max_ts"),
    )
    w_all = Window.partitionBy()
    cell = cell.withColumn("_wm", F.max("_max_ts").over(w_all)).withColumn(
        "_cut", F.col("_wm") - F.expr(f"INTERVAL {int(recent_hours)} HOURS")
    )
    agg = cell.groupBy("_g").agg(
        F.sum("_n").alias("n_rows"),
        F.min("_min_ts").alias("first_ts"),
        F.max("_max_ts").alias("last_ts"),
        F.max("_wm").alias("_wm"),
        F.sum(F.when(F.col("_h") > F.col("_cut"), F.col("_n")).otherwise(F.lit(0))).alias(
            "n_recent"
        ),
    )
    # microsecond-exact (unix_micros ≡ DuckDB epoch_us): a double cast
    # of TIMESTAMP_NTZ is not defined in Spark 4
    um = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    stale = (um("_wm") - um("last_ts")).cast("double") / F.lit(1e6)
    return agg.select(
        F.col("_g").alias(group_col),
        "n_rows",
        "first_ts",
        "last_ts",
        F.round(stale, 6).alias("staleness_sec"),
        "n_recent",
        F.round(
            F.col("n_recent") / F.col("n_rows") + F.lit(1e-9), 6
        ).alias("recent_share"),
    )
