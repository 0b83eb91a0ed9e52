"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship validation suite; ``queries()`` maps
every implemented operator (SURVEY.md §2) onto the driver's testdata
tables; ``oracle_sql()`` provides the DuckDB-equivalent SQL for each —
column names, types and float rounding are aligned so the driver's
row-count + schema + value-hash comparison passes.

Conventions shared by both sides:
- every count cast to BIGINT, every float wrapped in round(x, 6) (or
  coarser) and cast to DOUBLE;
- deterministic ordering keys inside window functions (ties broken by
  an id column);
- identical arithmetic expression order so IEEE doubles agree bit-wise
  where possible.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

from htm_streamer_spark.config import EngineConfig
from htm_streamer_spark.operators.dedup import (
    exact_duplicates,
    minhash_near_duplicates,
    normalized_text,
    simhash_fingerprints,
)
from htm_streamer_spark.operators.likelihood import anomaly_likelihood_windowed
from htm_streamer_spark.operators.similarity import brute_force_topk, lsh_topk
from htm_streamer_spark.operators.textstats import (
    LANG_MARKERS,
    fingerprint,
    lang_id,
    quality_score,
    token_count,
)
from htm_streamer_spark.operators.uniqueness import duplicate_ids
from htm_streamer_spark.plans.validation_plan import run_validation_batch

ALLOWED_SOURCES = [f"src{i}" for i in range(16)]  # src16..19 → violations

# Golden-file oracles (tools/make_goldens.py): for queries that are
# bit-deterministic but not recomputable in DuckDB SQL, the oracle is an
# exact golden parquet captured at the driver's correctness scale
# (sf0.01) and read back via read_parquet — the driver's rows + schema +
# value-hash compare applies unchanged.
GOLDEN_DIR = Path(__file__).resolve().parent / "tests" / "golden"
SQL_IVF_GOLDEN = (
    f"SELECT * FROM read_parquet('{GOLDEN_DIR}/ivf_topk_embeddings.sf0.01.parquet')"
)
SQL_MULTIMODAL_GOLDEN = (
    f"SELECT * FROM read_parquet('{GOLDEN_DIR}/multimodal_features.sf0.01.parquet')"
)
SQL_KMEANS_GOLDEN = (
    f"SELECT * FROM read_parquet('{GOLDEN_DIR}/kmeans_embeddings.sf0.01.parquet')"
)
SQL_SEMDEDUP_GOLDEN = (
    f"SELECT * FROM read_parquet('{GOLDEN_DIR}/semdedup_embeddings.sf0.01.parquet')"
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full validation-suite verdicts over a sequences-shaped
    table derived deterministically from sf0.001 documents (tokens =
    hashed words, the input_hint schema)."""
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    seq = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.transform(
            F.split(F.col("text"), r"\s+"),
            lambda w: F.pmod(F.xxhash64(w), F.lit(50257)).cast("int"),
        ).alias("tokens"),
        F.size(F.split(F.col("text"), r"\s+")).cast("int").alias("n_tok"),
        F.concat(F.lit("src-derived-"), F.col("source")).alias("source"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
        F.pmod(F.col("doc_id"), F.lit(8)).cast("int").alias("part_id"),
    )
    cfg = EngineConfig(
        allowed_sources=tuple(f"src-derived-src{i}" for i in range(20)),
        baseline_partitions=2,
        checks=("null_n_tok", "len_mismatch", "token_range", "empty_tokens", "bad_source", "dup_doc_id", "drift"),
    )
    return run_validation_batch(spark, seq, cfg).verdicts


# ---------------------------------------------------------------------------
# per-operator queries + DuckDB oracles
# ---------------------------------------------------------------------------


def q_stats_profile_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.round(F.avg(F.col("n_chars").isNull().cast("double")), 6).alias("null_rate"),
    )


SQL_STATS_PROFILE = """
SELECT source,
       count(*) AS n_rows,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars,
       round(avg(n_chars), 6)::DOUBLE + 0.0 AS avg_chars,
       round(avg(CASE WHEN n_chars IS NULL THEN 1.0 ELSE 0.0 END), 6)::DOUBLE + 0.0 AS null_rate
FROM documents GROUP BY source
"""


def q_column_profile_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("doc_id").alias("n_distinct_doc_id"),
        F.countDistinct("source").alias("n_distinct_source"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


SQL_COLUMN_PROFILE = """
SELECT count(*) AS n_rows,
       count(DISTINCT doc_id) AS n_distinct_doc_id,
       count(DISTINCT source) AS n_distinct_source,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars
FROM documents
"""


def q_violations_docs(spark, sf_dir):
    """Row-violation explode (the engine's single-pass multi-check
    pattern, operators/invariants.py) on documents."""
    d = _t(spark, sf_dir, "documents")
    checks = {
        "empty_text": F.length(F.trim(F.col("text"))) == 0,
        "len_invariant": F.col("n_chars") != F.length(F.col("text")),
        "bad_source": ~F.col("source").isin(ALLOWED_SOURCES),
        "short_text": F.col("n_chars") < 60,
    }
    fired = F.filter(
        F.array(*[F.when(e, F.lit(k)) for k, e in checks.items()]),
        lambda x: x.isNotNull(),
    )
    return (
        d.withColumn("_f", fired)
        .filter(F.size("_f") > 0)
        .select("doc_id", F.explode("_f").alias("check_id"))
    )


SQL_VIOLATIONS_DOCS = """
SELECT doc_id, 'empty_text' AS check_id FROM documents WHERE length(trim(text)) = 0
UNION ALL
SELECT doc_id, 'len_invariant' FROM documents WHERE n_chars != length(text)
UNION ALL
SELECT doc_id, 'bad_source' FROM documents
WHERE source NOT IN ('src0','src1','src2','src3','src4','src5','src6','src7',
                     'src8','src9','src10','src11','src12','src13','src14','src15')
UNION ALL
SELECT doc_id, 'short_text' FROM documents WHERE n_chars < 60
"""


def q_dup_users_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return duplicate_ids(e, EngineConfig(), key_col="user_id")


SQL_DUP_USERS = """
SELECT user_id, count(*) AS dup_cnt FROM events GROUP BY user_id HAVING count(*) > 1
"""


def q_unique_orderkeys(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return duplicate_ids(o, EngineConfig(), key_col="o_orderkey")


SQL_UNIQUE_ORDERKEYS = """
SELECT o_orderkey, count(*) AS dup_cnt FROM orders GROUP BY o_orderkey HAVING count(*) > 1
"""


def q_orphan_lineitems(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(o.select("o_orderkey")), li.l_orderkey == o.o_orderkey, "left_anti")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_orphans"))
    )


SQL_ORPHAN_LINEITEMS = """
SELECT l_orderkey, count(*) AS n_orphans FROM lineitem
WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
GROUP BY l_orderkey
"""


def q_source_coverage_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_rows"))
    return per.select(
        "source", "n_rows", F.col("source").isin(ALLOWED_SOURCES).alias("is_allowed")
    )


SQL_SOURCE_COVERAGE = """
SELECT source, count(*) AS n_rows,
       source IN ('src0','src1','src2','src3','src4','src5','src6','src7',
                  'src8','src9','src10','src11','src12','src13','src14','src15') AS is_allowed
FROM documents GROUP BY source
"""


def q_ntok_hist_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.floor(F.col("n_chars") / 50).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


SQL_NTOK_HIST = """
SELECT floor(n_chars / 50)::BIGINT AS bucket, count(*) AS cnt FROM documents GROUP BY 1
"""


def q_wordlen_hist_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("lang", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"))
        .select("lang", F.length("w").alias("wlen"))
        .groupBy("lang", "wlen")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


SQL_WORDLEN_HIST = r"""
SELECT lang, length(w)::INT AS wlen, count(*) AS cnt
FROM (SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents)
GROUP BY lang, wlen
"""


def q_range_check_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    checks = {
        "qty_gt_45": F.col("l_quantity") > 45,
        "discount_gt_008": F.col("l_discount") > 0.08,
        "tax_gt_006": F.col("l_tax") > 0.06,
        "price_nonpositive": F.col("l_extendedprice") <= 0,
    }
    aggs = [F.sum(e.cast("long")).alias(k) for k, e in checks.items()]
    wide = li.agg(*aggs)
    # unpivot to (check_id, n_violations)
    stack = ", ".join(f"'{k}', {k}" for k in checks)
    return wide.selectExpr(f"stack({len(checks)}, {stack}) as (check_id, n_violations)")


SQL_RANGE_CHECK = """
SELECT 'qty_gt_45' AS check_id, sum(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END)::BIGINT AS n_violations FROM lineitem
UNION ALL SELECT 'discount_gt_008', sum(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END)::BIGINT FROM lineitem
UNION ALL SELECT 'tax_gt_006', sum(CASE WHEN l_tax > 0.06 THEN 1 ELSE 0 END)::BIGINT FROM lineitem
UNION ALL SELECT 'price_nonpositive', sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)::BIGINT FROM lineitem
"""


def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc_price"
        ),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)::DOUBLE + 0.0 AS sum_qty,
       round(sum(l_extendedprice), 2)::DOUBLE + 0.0 AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)::DOUBLE + 0.0 AS sum_disc_price,
       round(avg(l_quantity), 4)::DOUBLE + 0.0 AS avg_qty,
       round(avg(l_discount), 4)::DOUBLE + 0.0 AS avg_disc,
       count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_moving_average_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    return e.select(
        "event_type",
        "event_id",
        F.round(F.avg("value").over(w), 6).alias("ma"),
    )


SQL_MOVING_AVERAGE = """
SELECT event_type, event_id,
       round(avg(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
                              ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6)::DOUBLE + 0.0 AS ma
FROM events
"""


def q_likelihood_events(spark, sf_dir):
    """Flagship order-dependent operator: windowed anomaly likelihood
    (probation + trailing Gaussian + erfc Q-function + lag filter) over
    events, series = event_type, score synthesized deterministically."""
    e = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("series_id"),
        "ts",
        "event_id",
        F.col("value"),
        (F.pmod(F.col("event_id"), F.lit(100)) / F.lit(100.0)).alias("score"),
    )
    out = anomaly_likelihood_windowed(
        e,
        series_col="series_id",
        order_col=["ts", "event_id"],
        value_col="value",
        score_col="score",
        probation=500,
        historic_window=2000,
        averaging_window=10,
        apply_filter=True,
    )
    return out.select(
        F.col("series_id").alias("event_type"),
        "event_id",
        F.round("anomaly_likelihood", 6).alias("anomaly_likelihood"),
    )


SQL_LIKELIHOOD = """
WITH base AS (
  SELECT event_type, ts, event_id, value, (event_id % 100) / 100.0 AS score FROM events
), w1 AS (
  SELECT *, avg(score) OVER (PARTITION BY event_type ORDER BY ts, event_id
                             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS ma
  FROM base
), w2 AS (
  SELECT *,
    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn,
    avg(ma) OVER (PARTITION BY event_type ORDER BY ts, event_id
                  ROWS BETWEEN 2000 PRECEDING AND 1 PRECEDING) AS mean_raw,
    coalesce(var_pop(ma) OVER (PARTITION BY event_type ORDER BY ts, event_id
                  ROWS BETWEEN 2000 PRECEDING AND 1 PRECEDING), 0.0) AS var_raw,
    coalesce(var_pop(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
                  ROWS BETWEEN 2000 PRECEDING AND 1 PRECEDING), 0.0) AS metric_var
  FROM w1
), w3 AS (
  SELECT *,
    CASE WHEN metric_var < 1.5e-5 THEN 0.5 ELSE greatest(mean_raw, 0.03) END AS mean,
    CASE WHEN metric_var < 1.5e-5 THEN 1000.0 ELSE sqrt(greatest(var_raw, 0.0003)) END AS stdev
  FROM w2
), w4 AS (
  SELECT *, (CASE WHEN ma < mean THEN 2 * mean - ma ELSE ma END - mean) / stdev / 1.4142 AS z
  FROM w3
), w5 AS (
  SELECT *, 1.0 / (1.0 + 0.3275911 * z) AS t FROM w4
), w6 AS (
  SELECT *, CASE WHEN rn <= 500 THEN 0.5
    ELSE 1.0 - (0.5 * (t * (0.254829592 + t * (-0.284496736 + t * (1.421413741
         + t * (-1.453152027 + t * 1.061405429))))) * exp(-z * z)) END AS lik_raw
  FROM w5
), w7 AS (
  SELECT *, lag(1.0 - lik_raw) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev_raw
  FROM w6
), w8 AS (
  SELECT *, CASE WHEN (1.0 - lik_raw) <= (1.0 - 0.99999) AND prev_raw <= (1.0 - 0.99999)
                 THEN 1.0 - (1.0 - 0.999) ELSE lik_raw END AS lik
  FROM w7
)
SELECT event_type, event_id, round(lik, 6)::DOUBLE + 0.0 AS anomaly_likelihood FROM w8
"""


def q_sessionize_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("long")
    prev = F.lag(epoch).over(w)
    new_session = F.when(prev.isNull() | ((epoch - prev) > 3600), 1).otherwise(0)
    return (
        e.select("user_id", new_session.alias("ns"))
        .groupBy("user_id")
        .agg(F.sum("ns").cast("long").alias("n_sessions"))
    )


SQL_SESSIONIZE = """
WITH g AS (
  -- epoch seconds TRUNCATED like Spark's timestamp->long cast
  -- (epoch(ts)::BIGINT would ROUND fractional seconds and shift
  -- gap==3600 boundaries)
  SELECT user_id,
         CASE WHEN lag(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR epoch_us(ts) // 1000000 - lag(epoch_us(ts) // 1000000)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id) > 3600
              THEN 1 ELSE 0 END AS ns
  FROM events
)
SELECT user_id, sum(ns)::BIGINT AS n_sessions FROM g GROUP BY user_id
"""


def q_topk_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", F.col("rank").cast("long").alias("rank"))
    )


SQL_TOPK_ORDERS = """
SELECT o_orderpriority, o_orderkey, o_totalprice,
       row_number() OVER (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice DESC, o_orderkey)::BIGINT AS rank
FROM orders
QUALIFY rank <= 3
"""


def q_token_count_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return token_count(d).select(
        "doc_id",
        F.col("n_ws_tokens").cast("long").alias("n_ws_tokens"),
        F.col("n_bpe_ish").cast("long").alias("n_bpe_ish"),
    )


SQL_TOKEN_COUNT = r"""
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(string_split_regex(trim(text), '\s+')) END::BIGINT AS n_ws_tokens,
       len(regexp_extract_all(text, '([A-Za-z]+|[0-9]|[^A-Za-z0-9\s])', 1))::BIGINT AS n_bpe_ish
FROM documents
"""


def q_lang_id_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return lang_id(d).select("doc_id", "lang_pred")


def _sql_marker_score(lang: str) -> str:
    t = "(' ' || lower(text) || ' ')"
    terms = [
        f"(length({t}) - length(replace({t}, '{m}', ''))) / {len(m)}"
        for m in LANG_MARKERS[lang]
    ]
    return "(" + " + ".join(terms) + ")"


SQL_LANG_ID = f"""
WITH s AS (
  SELECT doc_id,
         {_sql_marker_score('de')} AS s_de,
         {_sql_marker_score('en')} AS s_en,
         {_sql_marker_score('es')} AS s_es,
         {_sql_marker_score('fr')} AS s_fr
  FROM documents
)
SELECT doc_id,
       CASE WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
            WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
            WHEN s_en >= s_de THEN 'en'
            ELSE 'de' END AS lang_pred
FROM s
"""


def q_quality_docs(spark, sf_dir):
    """The +1e-9 nudge (identical on both engines) keeps the rounded
    value off exact decimal halves, where Spark's BigDecimal HALF_UP and
    DuckDB's double rounding disagree (seen at sf0.1: 0.5123125)."""
    d = _t(spark, sf_dir, "documents")
    return quality_score(d).select(
        "doc_id", F.round(F.col("quality") + F.lit(1e-9), 6).alias("quality")
    )


_EN_STOP_SQL = " + ".join(
    f"(length((' ' || lower(text) || ' ')) - length(replace((' ' || lower(text) || ' '), '{m}', ''))) / {len(m)}"
    for m in LANG_MARKERS["en"]
)

SQL_QUALITY = rf"""
WITH q AS (
  SELECT doc_id,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
         string_split_regex(trim(lower(text)), '\s+') AS words,
         ({_EN_STOP_SQL}) AS stop
  FROM documents
), q2 AS (
  SELECT doc_id, n_chars,
         CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN len(words) > 0 THEN stop / len(words) ELSE 0.0 END AS stopword_ratio,
         CASE WHEN len(words) > 0
              THEN list_sum(list_transform(words, w -> length(w))) / len(words)
              ELSE 0.0 END AS mean_word_len
  FROM q
)
SELECT doc_id,
       round(
         least(n_chars / 500.0, 1.0) * 0.4
         + least(stopword_ratio * 5.0, 1.0) * 0.3
         + CASE WHEN punct_ratio > 0.001 AND punct_ratio < 0.2 THEN 0.15 ELSE 0.0 END
         + CASE WHEN mean_word_len > 2.5 AND mean_word_len < 12.0 THEN 0.15 ELSE 0.0 END
         + 1e-9,
       6)::DOUBLE + 0.0 AS quality
FROM q2
"""


def q_fingerprint_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return fingerprint(d)


SQL_FINGERPRINT = """
SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp FROM documents
"""


def q_dedup_exact_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return exact_duplicates(d).select("digest", "n_copies")


SQL_DEDUP_EXACT = """
SELECT md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS digest,
       count(*) AS n_copies
FROM documents GROUP BY 1 HAVING count(*) > 1
"""


def q_drift_psi_events(spark, sf_dir):
    """Per-event_type PSI of the value histogram vs the all-events
    baseline (the drift operator's shape on driver data).

    Single source scan: ONE groupBy(event_type, bucket) count is
    persisted (tiny — |types|×17 rows) and the baseline histogram,
    type list, and both totals are all derived from it, so events is
    read once no matter how many derivations reference it (at 100 TB,
    4 scans of the fact table was the whole cost of this query)."""
    e = _t(spark, sf_dir, "events")
    bucket = F.least(F.lit(15), F.floor(F.col("value") / 31.25)).cast("int")
    per = (
        e.select(F.col("event_type"), bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    # baseline = sum over types; same rows the oracle's base CTE counts
    base = per.groupBy("bucket").agg(F.sum("cnt").alias("qcnt"))
    types = per.select("event_type").distinct()
    grid = types.crossJoin(
        F.broadcast(
            e.sparkSession.range(16).select(F.col("id").cast("int").alias("bucket"))
        )
    )
    p_tot = per.groupBy("event_type").agg(F.sum("cnt").alias("p_total"))
    q_tot = base.agg(F.sum("qcnt").alias("q_total"))
    j = (
        grid.join(per, ["event_type", "bucket"], "left")
        .join(F.broadcast(base), ["bucket"], "left")
        .join(p_tot, ["event_type"], "left")
        .crossJoin(F.broadcast(q_tot))
        .fillna({"cnt": 0, "qcnt": 0})
    )
    p = F.greatest(F.col("cnt") / F.col("p_total"), F.lit(1e-6))
    q = F.greatest(F.col("qcnt") / F.col("q_total"), F.lit(1e-6))
    lr = F.log(p / q)
    return j.groupBy("event_type").agg(
        F.round(F.sum((p - q) * lr), 6).alias("psi"),
        F.round(F.sum(p * lr), 6).alias("kl"),
    )


SQL_DRIFT_PSI = """
WITH b AS (
  SELECT event_type, least(15, floor(value / 31.25))::INT AS bucket FROM events
), per AS (
  SELECT event_type, bucket, count(*) AS cnt FROM b GROUP BY 1, 2
), base AS (
  SELECT bucket, count(*) AS qcnt FROM b GROUP BY 1
), grid AS (
  SELECT t.event_type, g.bucket
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (SELECT unnest(range(16))::INT AS bucket) g
), tot AS (
  SELECT event_type, sum(cnt) AS p_total FROM per GROUP BY 1
), qt AS (
  SELECT sum(qcnt) AS q_total FROM base
), j AS (
  SELECT grid.event_type,
         greatest(coalesce(per.cnt, 0) / tot.p_total, 1e-6) AS p,
         greatest(coalesce(base.qcnt, 0) / qt.q_total, 1e-6) AS q
  FROM grid
  LEFT JOIN per ON per.event_type = grid.event_type AND per.bucket = grid.bucket
  LEFT JOIN base ON base.bucket = grid.bucket
  JOIN tot ON tot.event_type = grid.event_type
  CROSS JOIN qt
)
SELECT event_type,
       round(sum((p - q) * ln(p / q)), 6)::DOUBLE + 0.0 AS psi,
       round(sum(p * ln(p / q)), 6)::DOUBLE + 0.0 AS kl
FROM j GROUP BY event_type
"""


def q_embed_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk(emb, queries, k=5).select(
        "query_id", "vec_id", F.round("cosine", 4).alias("cosine")
    )


SQL_EMBED_TOPK = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(e.embedding::DOUBLE[], q.qvec)::DOUBLE + 0.0 AS cos_raw
  FROM embeddings e CROSS JOIN q
)
SELECT query_id, vec_id, round(cos_raw, 4)::DOUBLE + 0.0 AS cosine
FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, vec_id) <= 5
"""


def q_strict_zip_nation(spark, sf_dir):
    """J2 strict keyed zip: full-outer join + missing-side check
    (reference dict_zip raises on key mismatch, utils/general.py:36-51;
    here mismatches become rows instead of an exception)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    per = c.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_customers"))
    j = per.join(
        n.select(F.col("n_nationkey"), F.lit(True).alias("has_nation")),
        per.c_nationkey == F.col("n_nationkey"),
        "full_outer",
    )
    return j.select(
        F.coalesce(F.col("c_nationkey"), F.col("n_nationkey")).alias("nationkey"),
        F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
        F.coalesce(F.col("has_nation"), F.lit(False)).alias("has_nation"),
    )


SQL_STRICT_ZIP = """
WITH per AS (SELECT c_nationkey, count(*) AS n_customers FROM customer GROUP BY 1)
SELECT coalesce(per.c_nationkey, n.n_nationkey) AS nationkey,
       coalesce(per.n_customers, 0) AS n_customers,
       n.n_nationkey IS NOT NULL AS has_nation
FROM per FULL OUTER JOIN nation n ON per.c_nationkey = n.n_nationkey
"""

_WINDOWS = [
    ("w1", "2024-01-03 00:00:00", "2024-01-06 00:00:00"),
    ("w2", "2024-01-10 12:00:00", "2024-01-12 00:00:00"),
    ("w3", "2024-01-20 00:00:00", "2024-01-28 00:00:00"),
]


def q_interval_join_events(spark, sf_dir):
    """J1 label interval (range) join: events falling inside labeled
    windows — broadcast theta join (reference: NAB anomaly windows,
    driver.py:58-68)."""
    e = _t(spark, sf_dir, "events")
    win = spark.createDataFrame(_WINDOWS, "win_id string, start string, end string").select(
        "win_id",
        F.col("start").cast("timestamp_ntz").alias("start"),
        F.col("end").cast("timestamp_ntz").alias("end"),
    )
    j = e.join(
        F.broadcast(win),
        (e.ts >= win.start) & (e.ts <= win.end),
        "inner",
    )
    return j.groupBy("win_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


SQL_INTERVAL_JOIN = """
WITH win(win_id, start, "end") AS (
  VALUES ('w1', TIMESTAMP '2024-01-03 00:00:00', TIMESTAMP '2024-01-06 00:00:00'),
         ('w2', TIMESTAMP '2024-01-10 12:00:00', TIMESTAMP '2024-01-12 00:00:00'),
         ('w3', TIMESTAMP '2024-01-20 00:00:00', TIMESTAMP '2024-01-28 00:00:00')
)
SELECT win_id, count(*) AS n_events, round(sum(value), 4)::DOUBLE + 0.0 AS sum_value
FROM events e JOIN win w ON e.ts >= w.start AND e.ts <= w."end"
GROUP BY win_id
"""


def q_lead_labels_events(spark, sf_dir):
    """W5 multi-step lookahead: lead(value, 3) per series — the label-
    construction shape of the reference's predictor
    (model/htm_model.py:226-266)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    lead = F.lead("value", 3).over(w)
    return e.select(
        "event_id",
        F.round(lead - F.col("value"), 6).alias("delta_3ahead"),
    ).filter(F.col("delta_3ahead").isNotNull())


SQL_LEAD_LABELS = """
SELECT event_id,
       round(lead(value, 3) OVER (PARTITION BY event_type ORDER BY ts, event_id) - value,
             6)::DOUBLE + 0.0 AS delta_3ahead
FROM events QUALIFY delta_3ahead IS NOT NULL
"""


def q_argmax_orders(spark, sf_dir):
    """O3 argmax: highest-value order per priority via max_by
    (reference: np.argmax over the predictor pdf, htm_model.py:260)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("top_orderkey"),
        F.round(F.max("o_totalprice"), 2).alias("top_price"),
    )


SQL_ARGMAX_ORDERS = """
SELECT o_orderpriority,
       arg_max(o_orderkey, o_totalprice) AS top_orderkey,
       round(max(o_totalprice), 2)::DOUBLE + 0.0 AS top_price
FROM orders GROUP BY o_orderpriority
"""


def q_resolution_docs(spark, sf_dir):
    """A2 encoder-resolution derivation: (max-min+2·pad)/n_buckets with
    20% padding and 130 buckets (config/config.py:64-79,150-175)."""
    d = _t(spark, sf_dir, "documents")
    return d.agg(
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.round(
            (F.max("n_chars") - F.min("n_chars") + 2 * 0.2 * (F.max("n_chars") - F.min("n_chars")))
            / 130.0,
            6,
        ).alias("resolution"),
    )


SQL_RESOLUTION = """
SELECT min(n_chars) AS min_chars, max(n_chars) AS max_chars,
       round((max(n_chars) - min(n_chars) + 2 * 0.2 * (max(n_chars) - min(n_chars))) / 130.0,
             6)::DOUBLE + 0.0 AS resolution
FROM documents
"""


def q_loglik_events(spark, sf_dir):
    """F4 log-likelihood transform with the reference's exact constants
    (anomalylikelihood.py:299-309)."""
    e = _t(spark, sf_dir, "events")
    x = F.pmod(F.col("event_id"), F.lit(1000)) / F.lit(1000.0)
    ll = F.log(F.lit(1.0000000001) - x) / F.lit(-23.02585084720009)
    return e.select("event_id", F.round(ll, 6).alias("log_likelihood"))


SQL_LOGLIK = """
SELECT event_id,
       round(ln(1.0000000001 - (event_id % 1000) / 1000.0) / -23.02585084720009,
             6)::DOUBLE + 0.0 AS log_likelihood
FROM events
"""


def q_tail_slice_events(spark, sf_dir):
    """O4 tail slice: last-3 event ids per user in time order via
    F.slice(..., -3, 3) (reference: last-windowSize likelihoods,
    anomalylikelihood.py:626)."""
    e = _t(spark, sf_dir, "events")
    ordered = F.transform(
        F.sort_array(F.collect_list(F.struct("ts", "event_id"))),
        lambda s: s["event_id"],
    )
    per_user = e.groupBy("user_id").agg(
        ordered.alias("ids"), F.count(F.lit(1)).alias("n")
    )
    return (
        per_user.filter(F.col("n") >= 3)
        .select("user_id", F.slice("ids", -3, 3).alias("last3"))
        .select(
            "user_id",
            F.col("last3")[0].alias("id_3rd_last"),
            F.col("last3")[1].alias("id_2nd_last"),
            F.col("last3")[2].alias("id_last"),
        )
    )


SQL_TAIL_SLICE = """
WITH per AS (
  SELECT user_id, list(event_id ORDER BY ts, event_id) AS ids, count(*) AS n
  FROM events GROUP BY user_id
)
SELECT user_id,
       ids[-3] AS id_3rd_last,
       ids[-2] AS id_2nd_last,
       ids[-1] AS id_last
FROM per WHERE n >= 3
"""


def q_approx_distinct_docs(spark, sf_dir):
    """A8 HLL sketch distinct — approx values are engine-specific, so
    this is a rows-only check (no oracle)."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.approx_count_distinct("doc_id", 0.02).alias("approx_docs"),
        F.approx_count_distinct("source", 0.02).alias("approx_sources"),
    )


# -- rows-only queries (non-SQL-expressible; driver does rows-only check) --


def q_minhash_pairs_docs(spark, sf_dir):
    """MinHash-LSH near-dup pairs with the md5-based base hash: the
    whole pipeline (shingle → affine minwise sigs → band buckets →
    exact-Jaccard confirm) is recomputed independently by the DuckDB
    oracle below with the same affine constants."""
    d = _t(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(d, jaccard_threshold=0.5, method="md5")
    return pairs.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def _sql_minhash() -> str:
    from htm_streamer_spark.operators.dedup import MINHASH_P, minhash_constants

    K, BANDS, R = 32, 8, 4
    A, B = minhash_constants(K)
    hs = ",\n         ".join(
        f"min(({A[k]}*base + {B[k]}) % {MINHASH_P}) AS h{k}" for k in range(K)
    )
    bands_sql = "\n  UNION ALL\n  ".join(
        "SELECT doc_id, {b} AS band, concat_ws(',', {cols}) AS bsig FROM sigs".format(
            b=b, cols=", ".join(f"h{R * b + r}" for r in range(R))
        )
        for b in range(BANDS)
    )
    return f"""
WITH norm AS (
  SELECT doc_id,
         regexp_split_to_array(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               '\\s+') AS ws
  FROM documents
),
grams AS (
  SELECT doc_id, list_transform(generate_series(1, greatest(len(ws)-2, 0)),
                                i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]) AS grams
  FROM norm
),
sh AS (
  SELECT doc_id, ('0x'||substr(md5(t.g),1,8))::BIGINT % {MINHASH_P} AS base
  FROM grams, unnest(grams.grams) AS t(g)
  WHERE length(t.g) > 0
),
sigs AS (
  SELECT doc_id, {hs}
  FROM sh GROUP BY doc_id
),
banded AS (
  {bands_sql}
),
buckets AS (
  SELECT band, bsig, list_sort(list(doc_id)) AS ids
  FROM banded GROUP BY 1, 2 HAVING count(*) > 1 AND count(*) <= 64
),
cand AS (
  SELECT DISTINCT x.a AS doc_a, y.b AS doc_b
  FROM buckets, unnest(ids) AS x(a), unnest(ids) AS y(b)
  WHERE x.a < y.b
),
scored AS (
  SELECT c.doc_a, c.doc_b,
         CASE WHEN len(list_distinct(list_concat(ga.grams, gb.grams))) > 0
              THEN len(list_distinct(list_intersect(ga.grams, gb.grams)))::DOUBLE
                   / len(list_distinct(list_concat(ga.grams, gb.grams)))
              ELSE 0.0 END AS jac
  FROM cand c
  JOIN grams ga ON ga.doc_id = c.doc_a
  JOIN grams gb ON gb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, round(jac, 6)::DOUBLE + 0.0 AS jaccard
FROM scored WHERE jac >= 0.5
"""


SQL_MINHASH_PAIRS = _sql_minhash()


def q_simhash_docs(spark, sf_dir):
    """60-bit simhash: md5-based word hashes computed JVM-side, majority
    vote in one numpy mapInArrow kernel — now fully DuckDB-verifiable."""
    d = _t(spark, sf_dir, "documents")
    return simhash_fingerprints(d, method="md5")


SQL_SIMHASH = """
WITH words AS (
  SELECT doc_id, ('0x' || substr(md5(t.w), 1, 15))::BIGINT AS h
  FROM documents,
       unnest(regexp_split_to_array(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                    '\\s+')) AS t(w)
  WHERE length(t.w) > 0
),
votes AS (
  SELECT doc_id, b.range AS b,
         sum(CASE WHEN (h >> b.range) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM words CROSS JOIN range(60) b
  GROUP BY 1, 2
),
sigs AS (
  SELECT doc_id,
         sum(CASE WHEN vote > 0 THEN 1::BIGINT << b ELSE 0 END)::BIGINT AS simhash
  FROM votes GROUP BY doc_id
)
SELECT d.doc_id, coalesce(s.simhash, 0)::BIGINT AS simhash
FROM documents d LEFT JOIN sigs s USING (doc_id)
"""


def q_winnow_docs(spark, sf_dir):
    """MOSS winnowing fingerprints (rolling-hash document fingerprinting):
    distinct per-window minima of md5-based 31-bit gram hashes."""
    from htm_streamer_spark.operators.textstats import winnow_fingerprints

    d = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(d, gram_n=3, window=8)


SQL_WINNOW = """
WITH norm AS (
  SELECT doc_id,
         regexp_split_to_array(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               '\\s+') AS ws
  FROM documents
),
grams AS (
  SELECT doc_id, list_transform(generate_series(1, greatest(len(ws)-2, 0)),
                                i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]) AS grams
  FROM norm
),
hs AS (
  SELECT doc_id,
         list_transform(grams, g -> ('0x'||substr(md5(g),1,8))::BIGINT % 2147483647) AS hs
  FROM grams
),
fps AS (
  SELECT doc_id,
         CASE WHEN len(hs) = 0 THEN []
              WHEN len(hs) < 8 THEN [list_min(hs)]
              ELSE list_transform(generate_series(1, len(hs)-7),
                                  i -> list_min(hs[i:i+7]))
         END AS fps
  FROM hs
)
SELECT DISTINCT doc_id, t.fp
FROM fps, unnest(fps.fps) AS t(fp)
WHERE t.fp IS NOT NULL
"""


def q_quantiles_docs(spark, sf_dir):
    """A1 depth: EXACT per-source percentiles (Spark F.percentile and
    DuckDB quantile_cont share the linear-interpolation definition, so
    they agree bitwise). The approximate tier (percentile_approx /
    approx_count_distinct) stays rows-only by design."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.round(F.percentile("n_chars", 0.5), 6).alias("p50"),
        F.round(F.percentile("n_chars", 0.95), 6).alias("p95"),
        F.round(F.percentile("n_chars", 0.99), 6).alias("p99"),
    )


SQL_QUANTILES = """
SELECT source,
       round(quantile_cont(n_chars, 0.5), 6)::DOUBLE + 0.0 AS p50,
       round(quantile_cont(n_chars, 0.95), 6)::DOUBLE + 0.0 AS p95,
       round(quantile_cont(n_chars, 0.99), 6)::DOUBLE + 0.0 AS p99
FROM documents GROUP BY source
"""


def q_quantile_synopsis_events(spark, sf_dir):
    """Deterministic sample-quantile synopsis with a DKW bound
    (operators/binning.py quantile_synopsis): uniform-by-hash 1/8 row
    sample on event_id (pmod(md5-60bit, 8) < 1 — same rows on any
    engine, any layout), exact quartiles + p90 of the sample per
    event_type, and the distribution-free DKW epsilon
    sqrt(ln(2/0.05)/(2m)) published per group. The quantile member of
    the sketch tier: unlike percentile_approx, the synopsis is
    oracle-recomputable bit-for-bit AND carries a guarantee needing no
    distributional assumption. Map-side filter -> one grouped exact
    percentile on the sample; output is groups-sized."""
    from htm_streamer_spark.operators.binning import quantile_synopsis

    ev = _t(spark, sf_dir, "events")
    return quantile_synopsis(
        ev, "value", "event_id", group_col="event_type", rate_num=1, rate_den=8
    )


SQL_QUANTILE_SYNOPSIS = """
WITH sample AS (
  SELECT event_type, value
  FROM events
  WHERE ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT % 8 < 1
)
SELECT event_type,
       count(*)::BIGINT AS n_sample,
       round(quantile_cont(value, 0.25), 6)::DOUBLE + 0.0 AS q0_25,
       round(quantile_cont(value, 0.5), 6)::DOUBLE + 0.0 AS q0_5,
       round(quantile_cont(value, 0.75), 6)::DOUBLE + 0.0 AS q0_75,
       round(quantile_cont(value, 0.9), 6)::DOUBLE + 0.0 AS q0_9,
       round(sqrt(ln(2.0 / 0.05) / (2.0 * count(*))) + 1e-9, 6)::DOUBLE + 0.0 AS dkw_eps
FROM sample GROUP BY event_type
"""


def q_dup_ngram_docs(spark, sf_dir):
    """Gopher-style duplicate-3-gram fraction per doc: pure array
    expressions, zero shuffle."""
    from htm_streamer_spark.operators.repetition import dup_ngram_stats

    d = _t(spark, sf_dir, "documents")
    return dup_ngram_stats(d, n=3).select(
        "doc_id",
        "n_grams",
        "n_distinct_grams",
        F.round(F.col("dup_frac") + F.lit(1e-9), 6).alias("dup_frac"),
    )


SQL_DUP_NGRAM = r"""
WITH norm AS (
  SELECT doc_id,
         regexp_split_to_array(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               '\s+') AS ws
  FROM documents
),
grams AS (
  SELECT doc_id, list_transform(generate_series(1, greatest(len(ws)-2, 0)),
                                i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]) AS g
  FROM norm
)
SELECT doc_id,
       len(g)::BIGINT AS n_grams,
       len(list_distinct(g))::BIGINT AS n_distinct_grams,
       round(CASE WHEN len(g) > 0
                  THEN (len(g) - len(list_distinct(g))) / len(g)::DOUBLE
                  ELSE 0.0 END + 1e-9, 6) + 0.0 AS dup_frac
FROM grams
"""


def q_ivm_counts_docs(spark, sf_dir):
    """Incremental view maintenance (operators/ivm.py): the per-source
    (count, char-total) view updated from a snapshot_diff delta —
    removed %13, value-changed %17 (+5 chars), added %19 under shifted
    keys. Spark maintains INCREMENTALLY (delta-sized shuffles only);
    the oracle recomputes the view from scratch on the new snapshot —
    equality IS the IVM invariant."""
    from htm_streamer_spark.operators.delta import snapshot_diff
    from htm_streamer_spark.operators.ivm import (
        grouped_totals,
        incremental_totals,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    m = F.col("doc_id")
    kept = d.filter(m % 13 != 0).withColumn(
        "n_chars",
        F.when(m % 17 == 0, F.col("n_chars") + 5).otherwise(F.col("n_chars")),
    )
    added = d.filter(m % 19 == 0).select(
        (m + 1000000000).alias("doc_id"),
        F.lit("synthetic").alias("source"),
        (F.col("n_chars") + 3).alias("n_chars"),
    )
    # In production both snapshots are materialized tables and the diff
    # is delta-sized; here `new` is DERIVED from `d`, so without a
    # persist every downstream reference re-derives it and the plan
    # re-scans documents 13× (caught by test_plan_lint's scan bound).
    # Persisting exactly (new, diff) mirrors the real shape: snapshots
    # read at most twice (hash pass + semi-join pull), diff once each
    # side.
    new = kept.unionByName(added).persist()
    old_view = grouped_totals(d, ["source"], "n_chars")
    diff = snapshot_diff(
        d, new, key_col="doc_id", content_cols=("source", "n_chars")
    ).persist()
    view = incremental_totals(
        old_view, d, new, diff, "doc_id", ["source"], "n_chars"
    )
    return view.select(
        "source",
        F.col("n").alias("n_docs"),
        F.col("total").cast("long").alias("total_chars"),
    )


SQL_IVM_COUNTS = """
WITH newsnap AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 17 = 0 THEN n_chars + 5 ELSE n_chars END AS n_chars
  FROM documents WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + 1000000000, 'synthetic', n_chars + 3
  FROM documents WHERE doc_id % 19 = 0
)
SELECT source, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars
FROM newsnap GROUP BY 1
"""


def q_running_zscore_events(spark, sf_dir):
    """Expanding-window z-score per user (streaming/tws.py): prior-row
    cumulative moments as ONE window chain, single shuffle on user_id,
    O(n) running sums."""
    from htm_streamer_spark.streaming.tws import running_zscore_batch

    e = _t(spark, sf_dir, "events")
    out = running_zscore_batch(
        e, "user_id", "ts", "value",
        order_cols=("event_id",), keep_cols=("event_id",),
    )
    return out.select(
        "event_id",
        F.col("key").cast("long").alias("user_id"),
        "n_seen",
        F.round(F.col("zscore") + F.lit(1e-9), 6).alias("zscore"),
    )


SQL_RUNNING_ZSCORE = """
WITH b AS (
  SELECT event_id, user_id, value AS x,
         count(*) OVER wp AS cprev,
         sum(value) OVER wp AS s1,
         sum(value * value) OVER wp AS s2,
         count(*) OVER wc AS n_seen
  FROM events
  WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         wc AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, n_seen::BIGINT AS n_seen,
       round(CASE WHEN cprev >= 2
                  THEN (x - s1 / cprev)
                       / sqrt(greatest(s2 / cprev - (s1 / cprev) * (s1 / cprev), 1e-9))
                  ELSE 0.0 END + 1e-9, 6) + 0.0 AS zscore
FROM b
"""


def q_late_ship_priority(spark, sf_dir):
    """TPC-H Q4 shape: orders with at least one lineitem shipped >90
    days after the order date, counted by priority — EXISTS lowered to
    a LEFT SEMI join (equi-key + cross-side residual predicate stays
    inside the hash semi-join; each order emits at most once, no
    distinct needed), then a 5-group aggregate."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        l,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


SQL_LATE_SHIP_PRIORITY = """
SELECT o_orderpriority, count(*)::BIGINT AS n_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
)
GROUP BY 1 ORDER BY 1
"""


def q_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: average yearly revenue lost to small-quantity
    orders of one brand's parts. The correlated scalar subquery
    (0.2 * avg qty per part) becomes a per-partkey aggregate joined
    back — and the brand filter prunes BOTH sides before the heavy
    join, so the avg is computed only for the brand's parts instead of
    the whole catalog."""
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    l = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    lb = l.join(F.broadcast(p), l.l_partkey == p.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    avgq = lb.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_cut")
    )
    return (
        lb.join(avgq, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


SQL_SMALL_QTY_REVENUE = """
WITH lb AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#23'
),
cut AS (
  SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_cut FROM lb GROUP BY 1
)
SELECT round(sum(l_extendedprice) / 7.0, 4) + 0.0 AS avg_yearly,
       count(*)::BIGINT AS n_small
FROM lb JOIN cut USING (l_partkey)
WHERE l_quantity < qty_cut
"""


def q_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: revenue under a disjunction of brand/size/
    quantity bands. One lineitem scan, broadcast part join, the OR
    evaluated as a codegen predicate AFTER the join — with the
    common-factor conjunct (size>=1, qty<=30) pushed into both scans
    so Catalyst prunes rows before the join."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    l = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    j = l.filter(F.col("l_quantity") <= 30).join(
        F.broadcast(p.filter(F.col("p_size") >= 1)),
        l.l_partkey == p.p_partkey,
    )
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(band).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


SQL_DISJUNCTIVE_REVENUE = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) + 0.0 AS revenue,
       count(*)::BIGINT AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


def q_idle_rich_customers(spark, sf_dir):
    """TPC-H Q22 shape: customers above the average positive balance
    who never placed an URGENT order, grouped by market segment. The
    scalar subquery (global avg) joins in as a broadcast 1-row frame —
    no driver collect; the "never ordered urgent" test is a LEFT ANTI
    join with the priority filter pushed into the build-side scan, the
    only join shape that proves absence without a distinct."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    cut = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("bal_cut")
    )
    rich = c.join(F.broadcast(cut)).filter(F.col("c_acctbal") > F.col("bal_cut"))
    idle = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (
        idle.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.sum("c_acctbal"), 4).alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


SQL_IDLE_RICH_CUSTOMERS = """
SELECT c_mktsegment,
       count(*)::BIGINT AS n_cust,
       round(sum(c_acctbal), 4) + 0.0 AS total_bal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY 1 ORDER BY 1
"""


def q_contaminated_ngram_docs(spark, sf_dir):
    """Word-n-gram decontamination with NO broadcast / driver collect
    (operators/contamination.py contaminated_pairs_ngram): doc gram
    strings equi-join the probe grams in one shuffle-hash join, probes
    as the build side — string equality is the exact check, so one
    corpus scan and no cache. Probe cardinality unbounded — the path
    that survives when the eval suite is too big to broadcast."""
    from htm_streamer_spark.operators.contamination import (
        contaminated_pairs_ngram,
        derive_ngram_probes,
    )

    docs = _t(spark, sf_dir, "documents")
    probes = derive_ngram_probes(docs, every=13, start=4, n=3)
    return contaminated_pairs_ngram(docs, probes, n=3)


def q_contaminated_bloom_docs(spark, sf_dir):
    """Bloom-gated decontamination (operators/bloom.py
    contaminated_pairs_bloom): the probe set compacts to a fixed-size
    bit array (distributed bit_or build, 128 KiB broadcast), the doc
    side drops non-member grams in a map-side Arrow bit-lookup BEFORE
    any shuffle (>99% of gram traffic eliminated — pinned in
    tests/test_bloom.py), survivors exact-join on the gram string. Same
    answer as contaminated_ngram_docs — the filter prunes traffic,
    never decides answers — so the same DuckDB oracle checks it."""
    from htm_streamer_spark.operators.bloom import contaminated_pairs_bloom
    from htm_streamer_spark.operators.contamination import derive_ngram_probes

    docs = _t(spark, sf_dir, "documents")
    probes = derive_ngram_probes(docs, every=13, start=4, n=3)
    return contaminated_pairs_bloom(docs, probes, n=3)


SQL_CONTAMINATED_NGRAM = r"""
WITH norm AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                           '\s+'), w -> w <> '') AS ws
  FROM documents
),
probes AS (
  SELECT doc_id AS probe_id, array_to_string(list_slice(ws, 4, 6), ' ') AS gram
  FROM norm WHERE doc_id % 13 = 0 AND len(ws) >= 6
),
grams AS (
  SELECT doc_id, t.g AS gram
  FROM (SELECT doc_id,
               list_distinct(list_transform(generate_series(1, greatest(len(ws)-2, 0)),
                 i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS gs
        FROM norm) s, unnest(s.gs) AS t(g)
)
SELECT DISTINCT g.doc_id, p.probe_id
FROM grams g JOIN probes p USING (gram)
WHERE g.doc_id <> p.probe_id
"""


def q_heavy_words_docs(spark, sf_dir):
    """Two-pass exact heavy hitters (operators/heavy.py): Misra-Gries
    mapInArrow sketch bounds pass-1 output to sketch_k rows/partition;
    pass 2 exact-recounts only the broadcast candidate set, so the
    shuffle never carries the full distinct-word domain. Result equals
    exact top-20 because the 20th count beats N/sketch_k (asserted in
    tests/test_heavy.py)."""
    from htm_streamer_spark.operators.dedup import fan_out_narrow_scans
    from htm_streamer_spark.operators.heavy import heavy_hitters

    # fan out below the tokenize: the per-partition Misra-Gries sketch
    # inherits the scan's split count (guide §2.5)
    d = fan_out_narrow_scans(_t(spark, sf_dir, "documents").select("text"))
    words = d.select(
        F.explode(F.split(normalized_text(F.col("text")), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    top, _ = heavy_hitters(words, "w", k=20, sketch_k=256)
    return top.select(F.col("value").alias("word"), F.col("cnt"))


SQL_HEAVY_WORDS = r"""
WITH norm AS (
  SELECT regexp_split_to_array(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               '\s+') AS ws
  FROM documents
),
w AS (
  SELECT t.w FROM norm s, unnest(s.ws) AS t(w) WHERE t.w <> ''
)
SELECT w AS word, count(*)::BIGINT AS cnt
FROM w GROUP BY 1
ORDER BY cnt DESC, word ASC
LIMIT 20
"""


def q_top_bigram_docs(spark, sf_dir):
    """Gopher-style top-bigram fraction per doc (boilerplate signal):
    explode → two-phase hash agg → struct argmax, one shuffle."""
    from htm_streamer_spark.operators.repetition import top_ngram

    d = _t(spark, sf_dir, "documents")
    return top_ngram(d, n=2).select(
        "doc_id",
        "top_gram",
        "top_count",
        "n_grams",
        F.round(F.col("top_frac") + F.lit(1e-9), 6).alias("top_frac"),
    )


SQL_TOP_BIGRAM = r"""
WITH norm AS (
  SELECT doc_id,
         regexp_split_to_array(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               '\s+') AS ws
  FROM documents
),
grams AS (
  SELECT doc_id, t.g AS gram
  FROM (SELECT doc_id, list_transform(generate_series(1, greatest(len(ws)-1, 0)),
                                      i -> ws[i]||' '||ws[i+1]) AS gs
        FROM norm) s, unnest(s.gs) AS t(g)
),
counted AS (
  SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY doc_id, gram
)
SELECT doc_id,
       gram AS top_gram,
       cnt::BIGINT AS top_count,
       sum(cnt) OVER (PARTITION BY doc_id)::BIGINT AS n_grams,
       round(cnt / sum(cnt) OVER (PARTITION BY doc_id)::DOUBLE + 1e-9, 6) + 0.0 AS top_frac
FROM counted
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) = 1
"""


def q_contaminated_docs(spark, sf_dir):
    """Benchmark-decontamination scan: documents containing any probe
    substring (probes derived deterministically so the oracle can
    rebuild them). Broadcast nested-loop join; the regex-alternation
    single-scan variant is tested equal in tests/test_contamination.py."""
    from htm_streamer_spark.operators.contamination import (
        contaminated_pairs,
        derive_probes,
    )

    d = _t(spark, sf_dir, "documents")
    probes = derive_probes(d, every=97, offset=16, length=12)
    return contaminated_pairs(d, probes)


SQL_CONTAMINATED = """
WITH probes AS (
  SELECT doc_id AS probe_id, substring(text, 16, 12) AS probe
  FROM documents
  WHERE doc_id % 97 = 0 AND length(text) >= 28
)
SELECT d.doc_id, p.probe_id
FROM documents d JOIN probes p
  ON contains(d.text, p.probe) AND d.doc_id <> p.probe_id
"""


def q_json_props_events(spark, sf_dir):
    """JSON field extraction (the props column is a JSON payload —
    F13's inverse): per event_type, count/avg of the extracted numeric
    field. get_json_object is codegen'd JVM JSON-path evaluation."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_k"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k") + F.lit(1e-9), 6).alias("avg_k"),
        )
    )


SQL_JSON_PROPS = """
SELECT event_type,
       count(json_extract_string(props, '$.k')) AS n_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)) + 1e-9, 6) + 0.0 AS avg_k
FROM events GROUP BY event_type
"""


def q_asof_join_events(spark, sf_dir):
    """As-of join (point-in-time-correct attribution): every 'view'
    event picks up the latest 'purchase' by the same user at-or-before
    its ts. Spark side = the union-sort formulation (ONE shuffle of
    |L|+|R| rows, O(n) running-state window — never a per-key range
    cross-join); oracle = DuckDB's native ASOF JOIN."""
    from htm_streamer_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        views,
        purchases.withColumnRenamed("event_id", "p_event_id"),
        key_col="user_id",
        ts_col="ts",
        right_cols=["p_event_id", "value"],
        seq_col="p_event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_p_event_id").alias("asof_purchase_id"),
        F.round(F.col("asof_value") + F.lit(1e-9), 6).alias("asof_value"),
    )


SQL_ASOF_JOIN = """
WITH views AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
),
purchases AS (
  SELECT user_id, ts, event_id AS p_event_id, value
  FROM events WHERE event_type = 'purchase'
  QUALIFY row_number() OVER (PARTITION BY user_id, ts
                             ORDER BY event_id DESC) = 1
)
SELECT v.event_id, v.user_id,
       p.p_event_id AS asof_purchase_id,
       round(p.value + 1e-9, 6) + 0.0 AS asof_value
FROM views v ASOF LEFT JOIN purchases p
  ON v.user_id = p.user_id AND v.ts >= p.ts
"""


def q_windowed_counts_events(spark, sf_dir):
    """Event-time tumbling-window stats (the batch twin of the
    Structured Streaming watermark path — same plan runs on readStream
    with append-mode once-per-window emission; see
    streaming/windows.py and tests/test_windowed_stream.py)."""
    from htm_streamer_spark.streaming.windows import windowed_event_stats

    e = _t(spark, sf_dir, "events")
    out = windowed_event_stats(e, window="10 minutes", watermark=None)
    return out.select(
        "window_start",
        "window_end",
        "event_type",
        "n_events",
        F.round(F.col("sum_value") + F.lit(1e-9), 6).alias("sum_value"),
        F.round(F.col("avg_value") + F.lit(1e-9), 6).alias("avg_value"),
    )


SQL_WINDOWED_COUNTS = """
SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
       time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS window_end,
       event_type,
       count(*) AS n_events,
       round(sum(value) + 1e-9, 6) + 0.0 AS sum_value,
       round(avg(value) + 1e-9, 6) + 0.0 AS avg_value
FROM events
GROUP BY 1, 2, 3
"""


def q_session_window_events(spark, sf_dir):
    """Event-time SESSION windows (F.session_window, dynamic gap) per
    user — the streaming-native twin of the lag-based sessionize query;
    the same plan runs on readStream with append-mode once-per-session
    emission (tests/test_windowed_stream.py). Spark's boundary rule
    (pinned by tests/test_windowed_stream.py): spacing of EXACTLY the
    gap still MERGES (touching intervals coalesce); a new session needs
    spacing strictly greater; session_end = last event ts + gap. The
    oracle reproduces it with ts > prev + gap."""
    from htm_streamer_spark.streaming.windows import session_window_stats

    e = _t(spark, sf_dir, "events")
    out = session_window_stats(e, gap="1 hour", watermark=None)
    return out.select(
        "session_start",
        "session_end",
        "user_id",
        "n_events",
        F.round(F.col("sum_value") + F.lit(1e-9), 6).alias("sum_value"),
    )


SQL_SESSION_WINDOW = """
WITH s AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts > lag(ts) OVER w + INTERVAL '1 hour'
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), g AS (
  SELECT user_id, ts, value,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS sid
  FROM s
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL '1 hour' AS session_end,
       user_id,
       count(*) AS n_events,
       round(sum(value) + 1e-9, 6) + 0.0 AS sum_value
FROM g GROUP BY user_id, sid
"""


def q_pack_docs(spark, sf_dir):
    """Contiguous-stream sequence packing (GPT-style): lay each shard's
    docs end-to-end and window id = floor(exclusive_cumsum/capacity) —
    the step between a filtered corpus and a training shard. One window
    over one shuffle; first-fit greedy tier is pytest-verified
    (tests/test_packing.py)."""
    from htm_streamer_spark.operators.packing import pack_contiguous

    d = _t(spark, sf_dir, "documents").withColumn(
        "shard", F.pmod(F.col("doc_id"), F.lit(8)).cast("int")
    )
    out = pack_contiguous(d, capacity=4096, len_col="n_chars", shard_col="shard")
    return out.select(
        "doc_id", "shard", "pack_id", F.col("pack_offset").cast("long").alias("pack_offset")
    )


SQL_PACK_DOCS = """
WITH s AS (
  SELECT doc_id, (doc_id % 8)::INT AS shard, n_chars,
         sum(n_chars::BIGINT) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) - n_chars AS off
  FROM documents
)
SELECT doc_id, shard, (off // 4096)::BIGINT AS pack_id, off::BIGINT AS pack_offset
FROM s
"""


def q_split_docs(spark, sf_dir):
    """Deterministic train/val/test assignment (content-hash of doc_id,
    never rand(): stable across rebuilds/retries/partitionings — the
    leakage-free split every training corpus needs). Zero-shuffle
    projection; the md5 recipe is reproduced exactly by the oracle."""
    from htm_streamer_spark.operators.sampling import hash_split

    d = _t(spark, sf_dir, "documents")
    out = hash_split(d, {"train": 0.8, "val": 0.1, "test": 0.1}, id_col="doc_id")
    return out.groupBy("lang", "split").agg(F.count(F.lit(1)).alias("n_docs"))


SQL_SPLIT_DOCS = """
WITH b AS (
  SELECT lang,
         ('0x'||substr(md5(doc_id::VARCHAR || ':split-v1'), 1, 8))::BIGINT
           % 1000000 AS bucket
  FROM documents
)
SELECT lang,
       CASE WHEN bucket < 800000 THEN 'train'
            WHEN bucket < 900000 THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs
FROM b GROUP BY 1, 2
"""


def q_stratified_docs(spark, sf_dir):
    """Deterministic per-stratum downsample (keep 50% of en, 20% of de,
    none of the rest) — the curriculum/re-balance op. Same content-hash
    recipe; the per-stratum cutoff is a literal map evaluated inside
    the scan (no join, no shuffle)."""
    from htm_streamer_spark.operators.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents")
    out = stratified_sample(d, {"en": 0.5, "de": 0.2}, strata_col="lang")
    return out.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))


SQL_STRATIFIED_DOCS = """
WITH b AS (
  SELECT lang,
         ('0x'||substr(md5(doc_id::VARCHAR || ':sample-v1'), 1, 8))::BIGINT
           % 1000000 AS bucket
  FROM documents
)
SELECT lang, count(*) AS n_docs
FROM b
WHERE bucket < CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 200000 ELSE 0 END
GROUP BY 1
"""


def q_quality_bins_docs(spark, sf_dir):
    """Quality-quartile curriculum binning per lang: exact within-
    stratum percent_rank over the rounded quality score (the rounded
    value is the bin key on BOTH engines so near-tie ordering is
    identical). The approx (grouped percentile_approx sketch) tier is
    pytest-verified against this exact tier in tests/test_binning.py."""
    from htm_streamer_spark.operators.binning import quantile_bins_exact
    from htm_streamer_spark.operators.textstats import quality_score

    d = _t(spark, sf_dir, "documents")
    scored = quality_score(d).select(
        "doc_id", F.round(F.col("quality") + F.lit(1e-9), 6).alias("quality")
    )
    withlang = scored.join(d.select("doc_id", "lang"), "doc_id")
    binned = quantile_bins_exact(withlang, "quality", n_bins=4, strata_col="lang")
    return binned.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("quality") + F.lit(1e-9), 6).alias("avg_quality"),
    )


SQL_QUALITY_BINS = f"""
WITH scored AS ({SQL_QUALITY}),
b AS (
  SELECT s.doc_id, d.lang, s.quality,
         percent_rank() OVER (PARTITION BY d.lang
                              ORDER BY s.quality, s.doc_id) AS pr
  FROM scored s JOIN documents d USING (doc_id)
)
SELECT lang, least(floor(pr * 4), 3)::INT AS bin,
       count(*) AS n_docs,
       round(avg(quality) + 1e-9, 6)::DOUBLE + 0.0 AS avg_quality
FROM b GROUP BY 1, 2
"""


def q_dedup_clusters_docs(spark, sf_dir):
    """Near-dup CLUSTERING: connected components (iterative hash-min
    label propagation) over the confirmed MinHash-LSH pair list, plus
    the canonical-representative flag — the keep-one-per-cluster step
    of a production dedup. Oracle: recursive-CTE transitive closure
    over the independently recomputed pair list."""
    from htm_streamer_spark.operators.clustering import dedup_clusters
    from htm_streamer_spark.operators.dedup import minhash_near_duplicates

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(d, jaccard_threshold=0.5, method="md5")
    out = dedup_clusters(d, pairs)
    return out.select(
        "doc_id",
        "cluster_id",
        F.col("is_canonical").cast("int").alias("is_canonical"),
    )


def q_dedup_clusters_incr_docs(spark, sf_dir):
    """Near-dup clustering via the INCREMENTAL path
    (operators/clustering.py incremental_components): the confirmed
    pair list is split 3:1 by a pair-key hash into a \"yesterday\"
    batch (full CC) and a \"tonight\" delta; the delta merges into the
    existing labels touching only the clusters it lands in (existing
    clusters enter as depth-1 stars, so the round count is bounded by
    the delta's chain length, not the corpus) — the daily-ingest shape
    at 10^12 docs. Same answer as the full recompute BY CONSTRUCTION,
    so the same transitive-closure oracle checks it; the total mapping
    + canonical flag mirror dedup_clusters_docs exactly."""
    from htm_streamer_spark.operators.clustering import (
        connected_components,
        incremental_components,
    )
    from htm_streamer_spark.operators.dedup import minhash_near_duplicates

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(d, jaccard_threshold=0.5, method="md5").select(
        "doc_a", "doc_b"
    ).persist()
    old = pairs.where((F.col("doc_a") + F.col("doc_b")) % 4 != 0)
    delta = pairs.where((F.col("doc_a") + F.col("doc_b")) % 4 == 0)
    labels = connected_components(old)
    cc = incremental_components(labels, delta)
    mapped = d.select("doc_id").join(cc, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id")
    )
    return mapped.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("is_canonical"),
    )


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE edges AS (
  SELECT doc_a AS a, doc_b AS b FROM ({SQL_MINHASH_PAIRS}) q
  UNION
  SELECT doc_b, doc_a FROM ({SQL_MINHASH_PAIRS}) q2
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
cc AS (
  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
)
SELECT d.doc_id,
       coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
       (CASE WHEN d.doc_id = coalesce(cc.cluster_id, d.doc_id) THEN 1 ELSE 0 END)::INT
         AS is_canonical
FROM documents d LEFT JOIN cc USING (doc_id)
"""


def q_dedup_best_docs(spark, sf_dir):
    """Keep-BEST dedup: the canonical member of each near-dup cluster
    is its LONGEST doc (max n_chars, tie → min doc_id) — what a
    production pipeline keeps, vs dedup_clusters_docs' min-id rule.
    Oracle: the same recursive-CTE transitive closure + an argmax."""
    from htm_streamer_spark.operators.clustering import dedup_clusters_by
    from htm_streamer_spark.operators.dedup import minhash_near_duplicates

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(d, jaccard_threshold=0.5, method="md5")
    out = dedup_clusters_by(d, pairs, "n_chars")
    return out.select(
        "doc_id", "cluster_id", F.col("is_canonical").cast("int").alias("is_canonical")
    )


SQL_DEDUP_BEST = f"""
WITH RECURSIVE edges AS (
  SELECT doc_a AS a, doc_b AS b FROM ({SQL_MINHASH_PAIRS}) q
  UNION
  SELECT doc_b, doc_a FROM ({SQL_MINHASH_PAIRS}) q2
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
cc AS (
  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
),
mapped AS (
  SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id, d.n_chars
  FROM documents d LEFT JOIN cc USING (doc_id)
),
winners AS (
  SELECT cluster_id, min(doc_id) AS winner FROM mapped m
  WHERE n_chars = (SELECT max(n_chars) FROM mapped m2
                   WHERE m2.cluster_id = m.cluster_id)
  GROUP BY cluster_id
)
SELECT m.doc_id, m.cluster_id,
       (CASE WHEN m.doc_id = w.winner THEN 1 ELSE 0 END)::INT AS is_canonical
FROM mapped m JOIN winners w USING (cluster_id)
"""


def q_ivf_topk_embeddings(spark, sf_dir):
    """IVF coarse-quantizer ANN. Oracle = golden parquet (seeded k-means
    over a content-hash uniform sample is bit-deterministic but not
    DuckDB-recomputable; tools/make_goldens.py captures the expected
    output at sf0.01 and tests/test_similarity.py pins recall vs brute
    force)."""
    from htm_streamer_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries, dim=64, k=5, n_lists=8, nprobe=4)


def q_pq_topk_embeddings(spark, sf_dir):
    """Product-quantization ADC ANN (third tier after LSH and IVF):
    corpus encoded to M codebook indices, scored by LUT-sum, exact
    re-rank of the global top-(k·refine) shortlist. Oracle = golden
    parquet (seeded codebooks not DuckDB-recomputable); recall and
    partition-independence pinned in tests/test_similarity.py."""
    from htm_streamer_spark.operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_topk(emb, queries, dim=64, k=5, m=16, n_codes=32, refine=8)


SQL_PQ_GOLDEN = (
    f"SELECT * FROM read_parquet('{GOLDEN_DIR}/pq_topk_embeddings.sf0.01.parquet')"
)


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing through the driver contract. The decode is a
    declared stub (no media libs in this container) with a deterministic
    fake path, so the oracle is a golden parquet of the seeded output
    (tools/make_goldens.py). Exercises the real Spark machinery: binary
    columns, size-band repartition for decode skew, mapInPandas Arrow
    batches, blob dropped before any shuffle."""
    from htm_streamer_spark.operators.multimodal import (
        extract_features,
        frame_sample_plan,
        synthesize_media,
    )

    media = synthesize_media(spark, n=64, seed=42)
    feats = extract_features(media, fake=True)
    frames = frame_sample_plan(media).groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames")
    )
    return (
        feats.join(frames, "media_id", "left")
        .select(
            "media_id",
            "kind",
            "n_bytes",
            F.coalesce("n_frames", F.lit(0)).alias("n_frames"),
            F.round(F.aggregate("features", F.lit(0.0), lambda a, v: a + v), 6).alias(
                "feat_sum"
            ),
        )
    )


def q_simhash_pairs_docs(spark, sf_dir):
    """Simhash near-dup candidate pairs: 4 bands × 15 bits over the
    60-bit fingerprints; the oracle recomputes fingerprints, banding,
    the 2..64 bucket bound, and the pair expansion in SQL."""
    from htm_streamer_spark.operators.dedup import simhash_candidate_pairs

    d = _t(spark, sf_dir, "documents")
    fp = simhash_fingerprints(d, method="md5")
    return simhash_candidate_pairs(fp, band_bits=15)


SQL_SIMHASH_PAIRS = """
WITH words AS (
  SELECT doc_id, ('0x' || substr(md5(t.w), 1, 15))::BIGINT AS h
  FROM documents,
       unnest(regexp_split_to_array(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                    '\\s+')) AS t(w)
  WHERE length(t.w) > 0
),
votes AS (
  SELECT doc_id, b.range AS b,
         sum(CASE WHEN (h >> b.range) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM words CROSS JOIN range(60) b
  GROUP BY 1, 2
),
sigs0 AS (
  SELECT doc_id,
         sum(CASE WHEN vote > 0 THEN 1::BIGINT << b ELSE 0 END)::BIGINT AS simhash
  FROM votes GROUP BY doc_id
),
sigs AS (
  SELECT d.doc_id, coalesce(s.simhash, 0)::BIGINT AS simhash
  FROM documents d LEFT JOIN sigs0 s USING (doc_id)
),
banded AS (
  SELECT doc_id, b.range::INT AS band,
         (simhash >> (b.range * 15)) & 32767 AS bsig
  FROM sigs CROSS JOIN range(4) b
),
buckets AS (
  SELECT band, bsig, list_sort(list(doc_id)) AS ids
  FROM banded GROUP BY 1, 2 HAVING count(*) > 1 AND count(*) <= 64
)
SELECT DISTINCT x.a AS doc_a, y.b AS doc_b
FROM buckets, unnest(ids) AS x(a), unnest(ids) AS y(b)
WHERE x.a < y.b
"""


def q_lsh_topk_embeddings(spark, sf_dir):
    """LSH multi-probe ANN top-k. Embeddings are cast to double so the
    hyperplane dots and cosines agree with the DuckDB oracle to ~1e-15
    (float32 arithmetic differs at ~1e-7, enough to flip bucket signs)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_topk(emb, queries, dim=64, k=5, bits=8, probe_hamming=2)
    return out.select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")


def _sql_lsh_topk() -> str:
    from htm_streamer_spark.operators.similarity import _hyperplanes

    bits, dim, k = 8, 64, 5
    planes = _hyperplanes(dim, bits, seed=42)
    sig_terms = " + ".join(
        "(CASE WHEN list_dot_product(emb, [{w}]) > 0 THEN {v} ELSE 0 END)".format(
            w=", ".join(repr(float(x)) for x in planes[b]), v=1 << b
        )
        for b in range(bits)
    )
    masks = [0] + [1 << b for b in range(bits)] + [
        (1 << b1) | (1 << b2) for b1 in range(bits) for b2 in range(b1 + 1, bits)
    ]
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
sigs AS (
  SELECT vec_id, emb, ({sig_terms})::BIGINT AS sig FROM e
),
q AS (
  SELECT vec_id AS query_id, emb AS qvec, sig AS qsig FROM sigs WHERE vec_id < 5
),
probed AS (
  SELECT query_id, qvec, xor(qsig, m.mask) AS sig
  FROM q, unnest({masks}) AS m(mask)
),
cand AS (
  SELECT p.query_id, s.vec_id,
         list_cosine_similarity(s.emb, p.qvec) AS cos_raw
  FROM sigs s JOIN probed p USING (sig)
)
SELECT query_id, vec_id, round(cos_raw, 6)::DOUBLE + 0.0 AS cosine,
       row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, vec_id) AS rank
FROM cand
QUALIFY rank <= {k}
"""


SQL_LSH_TOPK = _sql_lsh_topk()


WIDE_DIM, WIDE_BITS, WIDE_K = 256, 12, 5
WIDE_SCALE = float(1 << 60)


def _wide_embedding_col():
    """Deterministic dim-256 DOUBLE embedding derived from vec_id:
    e_j = (md5_60bit("vec_id:j") / 2^60) * 2 - 1. md5 (not xxhash64) so
    the exact same values are computable in the DuckDB oracle; /2^60 and
    *2-1 are the same IEEE ops on both engines → bit-identical."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(WIDE_DIM - 1)),
        lambda j: (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.col("vec_id").cast("string"), j.cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            / F.lit(WIDE_SCALE)
        )
        * 2
        - 1,
    )


def q_lsh_topk_wide_embeddings(spark, sf_dir):
    """LSH ANN at production dimensionality: dim=256 × bits=12 = 3072
    literals exceeds LSH_EXPR_MAX_LITERALS, so both corpus and query
    signatures route through the Arrow matmul kernel
    (lsh_signatures_arrow) — the code path that actually runs at real
    embedding dims, now under the driver's correctness gate
    (VERDICT r2 item 6). Plan-asserted in tests/test_plans.py."""
    # fan out the id column BEFORE deriving the 256-dim embedding: the
    # 256 md5+conv evaluations per row inherit the scan's split count,
    # and the fixture is a single-row-group file (guide §2.5; no-op at
    # real scale)
    from htm_streamer_spark.operators.dedup import fan_out_narrow_scans

    emb = fan_out_narrow_scans(_t(spark, sf_dir, "embeddings").select("vec_id")).select(
        "vec_id", _wide_embedding_col().alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_topk(
        emb, queries, dim=WIDE_DIM, k=WIDE_K, bits=WIDE_BITS, probe_hamming=1
    )
    return out.select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")


def _sql_lsh_topk_wide() -> str:
    from htm_streamer_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(WIDE_DIM, WIDE_BITS, seed=42)
    sig_terms = " + ".join(
        "(CASE WHEN list_dot_product(emb, [{w}]) > 0 THEN {v} ELSE 0 END)".format(
            w=", ".join(repr(float(x)) for x in planes[b]), v=1 << b
        )
        for b in range(WIDE_BITS)
    )
    masks = [0] + [1 << b for b in range(WIDE_BITS)]
    return f"""
WITH e AS (
  SELECT vec_id,
         list_transform(range({WIDE_DIM}), j ->
           (('0x' || substr(md5(vec_id::VARCHAR || ':' || (j)::VARCHAR), 1, 15))::BIGINT
            / {WIDE_SCALE!r}) * 2 - 1) AS emb
  FROM embeddings
),
sigs AS (
  SELECT vec_id, emb, ({sig_terms})::BIGINT AS sig FROM e
),
q AS (
  SELECT vec_id AS query_id, emb AS qvec, sig AS qsig FROM sigs WHERE vec_id < 5
),
probed AS (
  SELECT query_id, qvec, xor(qsig, m.mask) AS sig
  FROM q, unnest({masks}) AS m(mask)
),
cand AS (
  SELECT p.query_id, s.vec_id,
         list_cosine_similarity(s.emb, p.qvec) AS cos_raw
  FROM sigs s JOIN probed p USING (sig)
)
SELECT query_id, vec_id, round(cos_raw, 6)::DOUBLE + 0.0 AS cosine,
       row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, vec_id) AS rank
FROM cand
QUALIFY rank <= {WIDE_K}
"""


SQL_LSH_TOPK_WIDE = _sql_lsh_topk_wide()


def q_embed_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs via LSH buckets (one shuffle on
    the 8-bit signature, pairs only within bounded buckets). Double-cast
    for cross-engine float parity, as in lsh_topk."""
    from htm_streamer_spark.operators.similarity import embedding_near_duplicates

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    out = embedding_near_duplicates(emb, dim=64, threshold=0.3, bits=8)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def _sql_embed_near_dups() -> str:
    from htm_streamer_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 8, seed=42)
    sig_terms = " + ".join(
        "(CASE WHEN list_dot_product(emb, [{w}]) > 0 THEN {v} ELSE 0 END)".format(
            w=", ".join(repr(float(x)) for x in planes[b]), v=1 << b
        )
        for b in range(8)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
sigs AS (SELECT vec_id, emb, ({sig_terms})::BIGINT AS sig FROM e),
keep AS (SELECT sig FROM sigs GROUP BY sig HAVING count(*) > 1 AND count(*) <= 256),
b AS (SELECT s.* FROM sigs s SEMI JOIN keep USING (sig)),
pairs AS (
  SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
         list_cosine_similarity(a.emb, b2.emb) AS cos_raw
  FROM b a JOIN b b2 USING (sig) WHERE a.vec_id < b2.vec_id
)
SELECT id_a, id_b, round(cos_raw, 6)::DOUBLE + 0.0 AS cosine
FROM pairs WHERE cos_raw >= 0.3
"""


SQL_EMBED_NEAR_DUPS = _sql_embed_near_dups()


def q_validation_verdicts(spark, sf_dir):
    """Flagship: the FULL validation suite (row checks, salted
    uniqueness, drift PSI/KL vs a 2-partition baseline, hard-fail
    override, probation) over a sequences-shaped table derived from
    documents. Tokens are md5-based word hashes — chosen over xxhash64
    ONLY because DuckDB can reproduce md5 bit-for-bit, so the driver's
    independent oracle can verify the whole suite end-to-end.
    allowed_sources covers src0..15, so src16..19 rows fire bad_source
    and exercise the hard-fail override."""
    docs = _t(spark, sf_dir, "documents")
    tok = lambda w: F.pmod(  # noqa: E731
        F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long"), F.lit(50257)
    ).cast("int")
    seq = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.transform(F.split(F.col("text"), r"\s+"), tok).alias("tokens"),
        F.size(F.split(F.col("text"), r"\s+")).cast("int").alias("n_tok"),
        F.col("source"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
        F.pmod(F.col("doc_id"), F.lit(8)).cast("int").alias("part_id"),
    )
    cfg = EngineConfig(baseline_partitions=2, allowed_sources=tuple(ALLOWED_SOURCES))
    v = run_validation_batch(spark, seq, cfg).verdicts
    # round the drift doubles for the cross-engine hash: Spark and DuckDB
    # sum the 128-term PSI/KL series in different orders (~1e-15 drift)
    return v.select(
        "part_id",
        "verdict",
        "n_violations",
        F.round("psi", 6).alias("psi"),
        F.round("kl", 6).alias("kl"),
    )


SQL_VALIDATION_VERDICTS = """
WITH seq AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         (doc_id % 8)::INT AS part_id,
         source,
         list_transform(regexp_split_to_array(text, '\\s+'),
             w -> (('0x' || substr(md5(w), 1, 15))::BIGINT % 50257)::INT) AS tokens,
         len(regexp_split_to_array(text, '\\s+'))::INT AS n_tok
  FROM documents
),
feat AS (
  SELECT doc_id, part_id, source, n_tok,
         len(tokens) AS tok_len,
         coalesce(len(list_filter(tokens, t -> t < 0 OR t >= 50257)) > 0, FALSE) AS tok_oob,
         coalesce(source IN ('src0','src1','src2','src3','src4','src5','src6','src7',
                             'src8','src9','src10','src11','src12','src13','src14','src15'),
                  FALSE) AS src_ok,
         tokens
  FROM seq
),
flags AS (
  SELECT *,
         (n_tok IS NULL) AS f_null,
         coalesce(n_tok IS NOT NULL AND tok_len != n_tok, FALSE) AS f_len,
         tok_oob AS f_range,
         coalesce(tok_len = 0, TRUE) AS f_empty,
         NOT src_ok AS f_badsrc
  FROM feat
),
dupids AS (
  SELECT doc_id FROM seq GROUP BY doc_id HAVING count(*) > 1
),
viol AS (
  SELECT f.part_id,
         sum(f_null::INT + f_len::INT + f_range::INT + f_empty::INT + f_badsrc::INT
             + (f.doc_id IN (SELECT doc_id FROM dupids))::INT) AS n_violations
  FROM flags f GROUP BY f.part_id
),
clean AS (
  SELECT * FROM flags
  WHERE NOT (f_null OR f_len OR f_range OR f_empty OR f_badsrc)
),
tok_hist AS (
  SELECT part_id,
         least(greatest((t.tok * 128) // 50257, 0), 127)::INT AS bucket,
         count(*) AS cnt
  FROM clean, unnest(clean.tokens) AS t(tok)
  GROUP BY 1, 2
),
ntok_hist AS (
  SELECT part_id,
         ((least(greatest(n_tok, 0), 512)::BIGINT * 32) // 513)::INT AS bucket,
         count(*) AS cnt
  FROM clean WHERE n_tok IS NOT NULL
  GROUP BY 1, 2
),
base_tok AS (SELECT bucket, sum(cnt) AS cnt FROM tok_hist  WHERE part_id IN (0, 1) GROUP BY bucket),
base_ntok AS (SELECT bucket, sum(cnt) AS cnt FROM ntok_hist WHERE part_id IN (0, 1) GROUP BY bucket),
nb_tok  AS (SELECT * FROM tok_hist  WHERE part_id NOT IN (0, 1)),
nb_ntok AS (SELECT * FROM ntok_hist WHERE part_id NOT IN (0, 1)),
grid_tok AS (
  SELECT p.part_id, b.range::INT AS bucket
  FROM (SELECT DISTINCT part_id FROM nb_tok) p CROSS JOIN range(128) b
),
grid_ntok AS (
  SELECT p.part_id, b.range::INT AS bucket
  FROM (SELECT DISTINCT part_id FROM nb_ntok) p CROSS JOIN range(32) b
),
pq_tok AS (
  SELECT g.part_id,
         greatest(coalesce(h.cnt, 0) / greatest(pt.p_total, 1.0), 1e-6) AS p,
         greatest(coalesce(b.cnt, 0) / greatest(qt.q_total, 1.0), 1e-6) AS q
  FROM grid_tok g
  LEFT JOIN nb_tok h USING (part_id, bucket)
  LEFT JOIN base_tok b USING (bucket)
  LEFT JOIN (SELECT part_id, sum(cnt) AS p_total FROM nb_tok GROUP BY part_id) pt USING (part_id)
  CROSS JOIN (SELECT coalesce(sum(cnt), 0) AS q_total FROM base_tok) qt
),
pq_ntok AS (
  SELECT g.part_id,
         greatest(coalesce(h.cnt, 0) / greatest(pt.p_total, 1.0), 1e-6) AS p,
         greatest(coalesce(b.cnt, 0) / greatest(qt.q_total, 1.0), 1e-6) AS q
  FROM grid_ntok g
  LEFT JOIN nb_ntok h USING (part_id, bucket)
  LEFT JOIN base_ntok b USING (bucket)
  LEFT JOIN (SELECT part_id, sum(cnt) AS p_total FROM nb_ntok GROUP BY part_id) pt USING (part_id)
  CROSS JOIN (SELECT coalesce(sum(cnt), 0) AS q_total FROM base_ntok) qt
),
sc_tok AS (
  SELECT part_id, sum((p - q) * ln(p / q)) AS psi_tok, sum(p * ln(p / q)) AS kl_tok
  FROM pq_tok GROUP BY part_id
),
sc_ntok AS (
  SELECT part_id, sum((p - q) * ln(p / q)) AS psi_ntok, sum(p * ln(p / q)) AS kl_ntok
  FROM pq_ntok GROUP BY part_id
),
drift AS (
  SELECT coalesce(t.part_id, n.part_id) AS part_id,
         greatest(coalesce(psi_tok, 0.0), coalesce(psi_ntok, 0.0)) AS psi,
         greatest(coalesce(kl_tok, 0.0), coalesce(kl_ntok, 0.0)) AS kl
  FROM sc_tok t FULL OUTER JOIN sc_ntok n USING (part_id)
),
parts AS (SELECT DISTINCT part_id FROM seq)
SELECT p.part_id,
       CASE WHEN coalesce(v.n_violations, 0) > 0 THEN 'fail'
            WHEN p.part_id IN (0, 1) THEN 'probation'
            WHEN coalesce(d.psi, 0.0) > 0.2 OR coalesce(d.kl, 0.0) > 0.5 THEN 'fail'
            ELSE 'pass' END AS verdict,
       coalesce(v.n_violations, 0)::BIGINT AS n_violations,
       round(CASE WHEN p.part_id IN (0, 1) THEN 0.0 ELSE coalesce(d.psi, 0.0) END, 6)::DOUBLE + 0.0 AS psi,
       round(CASE WHEN p.part_id IN (0, 1) THEN 0.0 ELSE coalesce(d.kl, 0.0) END, 6)::DOUBLE + 0.0 AS kl
FROM parts p
LEFT JOIN viol v USING (part_id)
LEFT JOIN drift d USING (part_id)
"""


def q_validation_verdicts_drift(spark, sf_dir):
    """The flagship suite with ALL 20 sources allowed: no row violations
    fire, so the verdict path exercised is probation (baseline parts) /
    pass / drift-fail — the branches the hard-fail override masks in
    q_validation_verdicts."""
    docs = _t(spark, sf_dir, "documents")
    tok = lambda w: F.pmod(  # noqa: E731
        F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long"), F.lit(50257)
    ).cast("int")
    seq = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.transform(F.split(F.col("text"), r"\s+"), tok).alias("tokens"),
        F.size(F.split(F.col("text"), r"\s+")).cast("int").alias("n_tok"),
        F.col("source"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
        F.pmod(F.col("doc_id"), F.lit(8)).cast("int").alias("part_id"),
    )
    cfg = EngineConfig(
        baseline_partitions=2,
        allowed_sources=tuple(f"src{i}" for i in range(20)),
    )
    v = run_validation_batch(spark, seq, cfg).verdicts
    return v.select(
        "part_id",
        "verdict",
        "n_violations",
        F.round("psi", 6).alias("psi"),
        F.round("kl", 6).alias("kl"),
    )


_ALL20 = ",".join(f"'src{i}'" for i in range(20))
SQL_VALIDATION_VERDICTS_DRIFT = SQL_VALIDATION_VERDICTS.replace(
    """source IN ('src0','src1','src2','src3','src4','src5','src6','src7',
                             'src8','src9','src10','src11','src12','src13','src14','src15')""",
    f"source IN ({_ALL20})",
)
assert SQL_VALIDATION_VERDICTS_DRIFT != SQL_VALIDATION_VERDICTS


def q_rollup_lineitem(spark, sf_dir):
    """Hierarchical subtotal rollup (flag -> status -> grand total) via
    Spark's native GROUPING SETS lowering — df.rollup() is a single
    expand+aggregate, one shuffle, map-side partials for all levels at
    once (vs 3 separate scans for 3 grouping levels). NULL grouping
    keys are coalesced to 'ALL' on both engines so the hash compare is
    marker-stable."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "n_items",
            "sum_qty",
            "sum_disc_price",
        )
    )


SQL_ROLLUP_LINEITEM = """
SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
       coalesce(l_linestatus, 'ALL') AS l_linestatus,
       count(*)::BIGINT AS n_items,
       round(sum(l_quantity), 2)::DOUBLE + 0.0 AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 2)::DOUBLE + 0.0 AS sum_disc_price
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join customer |><| orders |><| lineitem
    with selective filters on every side, revenue aggregation, top-10.
    No forced broadcast hint: a hint would OOM on a warehouse-scale
    customer table; instead size statistics + AQE pick broadcast when
    the filtered dim fits the threshold (they do at every test SF) and
    degrade to a shuffle join when it doesn't. orders |><| lineitem is
    the one unavoidable big shuffle join on the order key. Filters push
    to all three parquet scans."""
    cutoff = "1998-01-01"
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .limit(10)
    )


SQL_SHIPPING_PRIORITY = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2)::DOUBLE + 0.0 AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, o_orderdate ASC, o_orderkey ASC
LIMIT 10
"""


def q_tfidf_docs(spark, sf_dir):
    """Top-3 characteristic terms per document by smoothed TF-IDF
    (operators/ranking.py). One scan: df is derived from the tf frame;
    the vocabulary-sized df side broadcasts. Ranking on the ROUNDED
    score + term tie-break keeps both engines bit-identical."""
    from htm_streamer_spark.operators.ranking import tfidf_top_terms

    d = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(d, k=3)


SQL_TFIDF_DOCS = """
WITH toks AS (
  SELECT doc_id, t.term
  FROM documents,
       LATERAL (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term) t
  WHERE t.term <> ''
),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2
),
n AS (SELECT count(DISTINCT doc_id)::BIGINT AS n FROM documents),
dfreq AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tf GROUP BY 1
),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0) + 1e-9, 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, rank::INT AS rank, tfidf::DOUBLE + 0.0 AS tfidf
FROM ranked WHERE rank <= 3
"""


def q_postings_docs(spark, sf_dir):
    """Inverted index (operators/ranking.py build_postings): per term,
    document frequency, total term frequency, and the 5 smallest doc
    ids comma-joined. The sample is row_number-capped BEFORE any
    collect_list, so no array exceeds 5 elements even for a stopword
    present in every document of the corpus."""
    from htm_streamer_spark.operators.ranking import build_postings

    d = _t(spark, sf_dir, "documents")
    return build_postings(d, sample_ids=5)


SQL_POSTINGS_DOCS = """
WITH toks AS (
  SELECT doc_id, t.term
  FROM documents,
       LATERAL (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term) t
  WHERE t.term <> ''
),
per_doc AS (
  SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2
),
totals AS (
  SELECT term, count(*)::BIGINT AS n_docs, sum(tf)::BIGINT AS total_tf
  FROM per_doc GROUP BY 1
),
sample AS (
  SELECT term,
         array_to_string((list(doc_id::VARCHAR ORDER BY doc_id))[1:5], ',') AS sample_docs
  FROM per_doc GROUP BY 1
)
SELECT term, n_docs, total_tf, sample_docs
FROM totals JOIN sample USING (term)
"""


def q_bm25_docs(spark, sf_dir):
    """BM25 top-5 ranked retrieval for three fixed queries
    (operators/ranking.py bm25_topk): the RETRIEVAL member of the
    tfidf/postings family — Lucene-form idf, k1=1.2 / b=0.75
    saturation + length normalization. Query terms broadcast and prune
    the tf frame BEFORE scoring; N/df/avgdl all derive from ONE
    persisted (doc, term, tf) frame — a single tokenizing scan."""
    from htm_streamer_spark.operators.ranking import bm25_topk

    d = _t(spark, sf_dir, "documents")
    return bm25_topk(
        d,
        [
            ("q1", "customer table scan"),
            ("q2", "spark window merge"),
            ("q3", "big fast hash"),
        ],
        k=5,
    )


SQL_BM25_DOCS = r"""
WITH toks AS (
  SELECT doc_id, t.term
  FROM documents,
       LATERAL (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term) t
  WHERE t.term <> ''
),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2
),
dl AS (SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
qterms(query_id, term) AS (
  VALUES ('q1', 'customer'), ('q1', 'scan'), ('q1', 'table'),
         ('q2', 'merge'), ('q2', 'spark'), ('q2', 'window'),
         ('q3', 'big'), ('q3', 'fast'), ('q3', 'hash')
),
cand AS (SELECT q.query_id, tf.* FROM tf JOIN qterms q USING (term)),
dfreq AS (
  SELECT query_id, term, count(DISTINCT doc_id)::DOUBLE AS df
  FROM cand GROUP BY 1, 2
),
scored AS (
  SELECT c.query_id, c.doc_id,
         round(sum(
           ln(1.0 + (s.n - f.df + 0.5) / (f.df + 0.5))
           * c.tf * 2.2
           / (c.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl))
         ) + 1e-9, 6) + 0.0 AS score
  FROM cand c
  JOIN dfreq f USING (query_id, term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, doc_id, rank::INT AS rank, score
FROM ranked WHERE rank <= 5
"""


def q_scrub_docs(spark, sf_dir):
    """Blocklist scrub accounting (operators/scrub.py): per-doc match
    count and redacted length for a whole-word alternation — the PII /
    policy-filter mechanics with a synthetic-corpus-visible blocklist.
    Pure codegen regexp in the scan; zero shuffle."""
    from htm_streamer_spark.operators.scrub import scrub_stats

    d = _t(spark, sf_dir, "documents")
    return scrub_stats(d, ["customer", "vector", "big"]).where(F.col("flagged") == 1)


SQL_SCRUB_DOCS = r"""
SELECT doc_id,
       len(regexp_extract_all(text, '\b(customer|vector|big)\b'))::BIGINT AS n_matches,
       length(regexp_replace(text, '\b(customer|vector|big)\b', '', 'g'))::BIGINT AS clean_len,
       1 AS flagged
FROM documents
WHERE len(regexp_extract_all(text, '\b(customer|vector|big)\b')) > 0
"""


def q_funnel_events(spark, sf_dir):
    """Ordered funnel signup -> click -> purchase (operators/funnel.py):
    users reaching each stage in time order. ONE shuffle — stage
    attainment is a chain of running-max window expressions over a
    single (user, ts, event_id) sort; the naive formulation is k-1
    self-joins. Oracle uses the identical window formulation."""
    from htm_streamer_spark.operators.funnel import funnel_counts

    e = _t(spark, sf_dir, "events")
    return funnel_counts(e, ["signup", "click", "purchase"])


SQL_FUNNEL_EVENTS = """
WITH s0 AS (
  SELECT user_id, ts, event_type, event_id,
         max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
           OVER w AS r0
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING)
),
s1 AS (
  SELECT *, max(CASE WHEN event_type = 'click' AND r0 = 1 THEN 1 ELSE 0 END)
              OVER w AS r1
  FROM s0
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING)
),
s2 AS (
  SELECT *, max(CASE WHEN event_type = 'purchase' AND r1 = 1 THEN 1 ELSE 0 END)
              OVER w AS r2
  FROM s1
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING)
),
per_user AS (
  SELECT user_id, max(r0) AS r0, max(r1) AS r1, max(r2) AS r2
  FROM s2 GROUP BY 1
)
SELECT 0::INT AS stage_idx, 'signup' AS stage, sum(r0)::BIGINT AS n_users FROM per_user
UNION ALL
SELECT 1::INT, 'click', sum(r1)::BIGINT FROM per_user
UNION ALL
SELECT 2::INT, 'purchase', sum(r2)::BIGINT FROM per_user
"""


def q_stream_join_events(spark, sf_dir):
    """Click -> purchase attribution within 10 minutes per user via the
    stream-stream interval join (streaming/joins.py). One plan, two
    engines: this batch run is exact (watermarks no-op); the identical
    plan joins two readStream sources with watermark-bounded state
    (live test in tests/test_stream_join.py). The time bound in the
    join condition is what makes streaming state evictable — mandatory
    semantics, not a hint."""
    from htm_streamer_spark.streaming.joins import interval_join_streams

    e = _t(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    ).withColumnRenamed("p_user", "user_id")
    joined = interval_join_streams(
        clicks,
        purchases,
        "user_id",
        left_ts="click_ts",
        right_ts="purchase_ts",
        lower="0 seconds",
        upper="10 minutes",
        watermark="5 minutes",
    )
    um = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    return joined.select(
        "user_id",
        "click_id",
        "purchase_id",
        (um("purchase_ts") - um("click_ts")).alias("micros_between"),
    )


SQL_STREAM_JOIN_EVENTS = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       (epoch_us(p.ts) - epoch_us(c.ts))::BIGINT AS micros_between
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 10 MINUTE
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
"""


def q_pivot_events(spark, sf_dir):
    """Wide per-user event-type matrix via pivot. The pivot VALUES are
    passed explicitly — without them Spark runs an extra distinct scan
    just to learn the column set, and an unbounded value domain would
    mint unbounded columns; a fixed schema is the only shape that
    survives at scale. Lowered to ONE groupBy with conditional
    aggregates (exactly the oracle's formulation) — single shuffle."""
    e = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        e.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in types],
    )


SQL_PIVOT_EVENTS = """
SELECT user_id,
       count(*) FILTER (event_type = 'click')::BIGINT    AS n_click,
       count(*) FILTER (event_type = 'error')::BIGINT    AS n_error,
       count(*) FILTER (event_type = 'purchase')::BIGINT AS n_purchase,
       count(*) FILTER (event_type = 'signup')::BIGINT   AS n_signup,
       count(*) FILTER (event_type = 'view')::BIGINT     AS n_view
FROM events GROUP BY 1
"""


def q_kmeans_embeddings(spark, sf_dir):
    """Embedding k-means clustering (operators/similarity.py:
    kmeans_cluster_profile): seeded spherical k-means on the uniform
    content-hash sample, one-matmul-per-Arrow-batch assignment of every
    vector, integer-only cluster profile (bit-deterministic — float
    means would depend on accumulation order). Oracle = golden parquet
    (seeded k-means is deterministic but not DuckDB-recomputable;
    tools/make_goldens.py)."""
    from htm_streamer_spark.operators.similarity import kmeans_cluster_profile

    e = _t(spark, sf_dir, "embeddings")
    return kmeans_cluster_profile(e, n_clusters=8)


def q_semdedup_embeddings(spark, sf_dir):
    """SemDeDup semantic dedup (operators/semdedup.py): k-means-blocked
    within-cluster cosine pruning — per-vector (cluster_id, cent_sim,
    kept) verdicts under the paper's keep-least-prototypical policy
    (Abbas et al. 2023, arXiv:2303.09540). Seeded training sample +
    id-sorted per-cluster matmul make it bit-deterministic, so the
    oracle is a golden parquet (tools/make_goldens.py), same mechanism
    as IVF/PQ/kmeans."""
    from htm_streamer_spark.operators.semdedup import semantic_dedup

    e = _t(spark, sf_dir, "embeddings")
    # eps tuned to the synthetic corpus's cosine range (max pairwise sim
    # ~0.51; 0.40 drops ~5% — a non-trivial verdict set at sf0.01)
    out = semantic_dedup(e, n_clusters=8, eps=0.40, train_sample=1000)
    # kept/cluster verdicts are decided on full-precision sims inside the
    # operator; the EMITTED similarity is rounded so the golden oracle is
    # stable under accumulation-order ulp churn (e.g. blocked-gemm reworks)
    return out.withColumn("cent_sim", F.round("cent_sim", 6))


def q_top_orders_per_segment(spark, sf_dir):
    """Top-3 orders by total price per customer market segment,
    expressed through the spark.sql SURFACE (temp views + ANSI window
    SQL) rather than the DataFrame API — same Catalyst plan either way
    (one broadcast-able join + one partitioned window), demonstrating
    the engine's second query language. Deterministic tie-break on
    o_orderkey; the DuckDB oracle is the identical statement."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    return spark.sql(
        """
        WITH ranked AS (
          SELECT c.c_mktsegment, o.o_orderkey,
                 CAST(ROUND(o.o_totalprice, 2) AS DOUBLE) AS total_price,
                 ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                                    ORDER BY o.o_totalprice DESC, o.o_orderkey ASC)
                   AS rnk
          FROM v_orders o JOIN v_customer c ON o.o_custkey = c.c_custkey
        )
        SELECT c_mktsegment, o_orderkey, total_price, CAST(rnk AS INT) AS rnk
        FROM ranked WHERE rnk <= 3
        """
    )


SQL_TOP_ORDERS_PER_SEGMENT = """
WITH ranked AS (
  SELECT c.c_mktsegment, o.o_orderkey,
         round(o.o_totalprice, 2)::DOUBLE + 0.0 AS total_price,
         row_number() OVER (PARTITION BY c.c_mktsegment
                            ORDER BY o.o_totalprice DESC, o.o_orderkey ASC) AS rnk
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT c_mktsegment, o_orderkey, total_price, rnk::INT AS rnk
FROM ranked WHERE rnk <= 3
"""


def q_shuffle_docs(spark, sf_dir):
    """Deterministic global training-shuffle order (operators/
    sampling.py:global_shuffle_positions): dense position 0..N-1 in
    content-hash order WITHOUT a single-partition global window — the
    distributed order-index pattern (bucket counts -> broadcast
    cumulative offsets + partitioned within-bucket row_number). The
    oracle is the naive global row_number formulation, proving the
    two-phase plan computes the identical total order."""
    from htm_streamer_spark.operators.sampling import global_shuffle_positions

    d = _t(spark, sf_dir, "documents")
    return global_shuffle_positions(d)


SQL_SHUFFLE_DOCS = """
WITH h AS (
  SELECT doc_id,
         ('0x'||substr(md5(doc_id::VARCHAR || ':shuffle-v1'), 1, 8))::BIGINT
           % 1000000 AS hv
  FROM documents
)
SELECT doc_id,
       (row_number() OVER (ORDER BY hv % 256, hv, doc_id) - 1)::BIGINT
         AS shuffle_pos
FROM h
"""


def q_region_revenue(spark, sf_dir):
    """TPC-H Q5 shape: six-table join chain (lineitem-orders-customer-
    supplier-nation-region) with a region filter, a year filter pushed
    into the orders scan, and the local-supplier condition
    (c_nationkey = s_nationkey). Nation x region pre-join broadcasts
    (dim-sized); the supplier join is left unhinted (10k x SF rows —
    AQE broadcasts it at benchmark scale, shuffle-joins at web scale).
    All scans column-pruned to the join/agg columns only."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = (
        _t(spark, sf_dir, "orders")
        .where(F.year("o_orderdate") == 1996)
        .select("o_orderkey", "o_custkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA").select(
        "r_regionkey"
    )
    dim = n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(dim), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


SQL_REGION_REVENUE = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2)::DOUBLE + 0.0 AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA' AND year(o_orderdate) = 1996
GROUP BY n_name
"""


def q_unigram_nll_docs(spark, sf_dir):
    """Per-document mean negative log-likelihood under the corpus'
    own unigram LM (operators/lm.py) — the CCNet-style model-free
    quality signal. One tokenizing scan (persisted narrow tf frame);
    the vocabulary-sized model join is unhinted (AQE broadcasts)."""
    from htm_streamer_spark.operators.lm import unigram_nll

    d = _t(spark, sf_dir, "documents")
    return unigram_nll(d)


SQL_UNIGRAM_NLL = r"""
WITH toks AS (
  SELECT doc_id, t.term
  FROM documents,
       LATERAL (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term) t
  WHERE t.term <> ''
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
corpus AS (SELECT term, sum(tf)::BIGINT AS ctf FROM tf GROUP BY 1),
tot AS (SELECT sum(tf)::BIGINT AS total FROM tf)
SELECT tf.doc_id,
       sum(tf.tf)::BIGINT AS n_tokens,
       round(-sum(tf.tf * ln(ctf::DOUBLE / total)) / sum(tf.tf) + 1e-9, 6)::DOUBLE
         + 0.0 AS nll
FROM tf JOIN corpus USING (term) CROSS JOIN tot
GROUP BY tf.doc_id
"""


def q_oov_rate_docs(spark, sf_dir):
    """Per-document out-of-vocabulary rate against the corpus top-256
    vocabulary (operators/lm.py oov_rate). The vocabulary rank is over
    the vocabulary-sized corpus-counts frame (deterministic ctf-desc /
    term-asc order), never the corpus itself."""
    from htm_streamer_spark.operators.lm import oov_rate

    d = _t(spark, sf_dir, "documents")
    return oov_rate(d, vocab_size=256)


SQL_OOV_RATE = r"""
WITH toks AS (
  SELECT doc_id, t.term
  FROM documents,
       LATERAL (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term) t
  WHERE t.term <> ''
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
corpus AS (SELECT term, sum(tf)::BIGINT AS ctf FROM tf GROUP BY 1),
vocab AS (
  SELECT term FROM (
    SELECT term, row_number() OVER (ORDER BY ctf DESC, term ASC) AS rk FROM corpus
  ) WHERE rk <= 256
)
SELECT tf.doc_id,
       sum(tf.tf)::BIGINT AS n_tokens,
       sum(CASE WHEN v.term IS NULL THEN tf.tf ELSE 0 END)::BIGINT AS n_oov,
       round(sum(CASE WHEN v.term IS NULL THEN tf.tf ELSE 0 END)::DOUBLE
             / sum(tf.tf) + 1e-9, 6)::DOUBLE + 0.0 AS oov
FROM tf LEFT JOIN vocab v ON tf.term = v.term
GROUP BY tf.doc_id
"""


def q_mixture_weights_docs(spark, sf_dir):
    """Data-mixing plan (operators/mixing.py): per-source doc/token
    totals plus the sampling rate and epoch factor for a uniform
    100k-token target mixture. One column-pruned scan; token counting
    is a codegen'd size(split) expression — the text column never
    leaves the scan stage."""
    from htm_streamer_spark.operators.mixing import mixture_weights

    d = _t(spark, sf_dir, "documents")
    return mixture_weights(d, budget_tokens=100_000)


SQL_MIXTURE_WEIGHTS = r"""
WITH per_doc AS (
  SELECT source,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END::BIGINT AS ntok
  FROM documents
),
per_source AS (
  SELECT source, count(*)::BIGINT AS n_docs, sum(ntok)::BIGINT AS n_tokens
  FROM per_doc GROUP BY 1
),
ns AS (SELECT count(*)::BIGINT AS n_sources FROM per_source)
SELECT source, n_docs, n_tokens,
       round(100000.0 / n_sources + 1e-9, 6)::DOUBLE + 0.0 AS target_tokens,
       round(least(1.0, (100000.0 / n_sources) / n_tokens) + 1e-9, 6)::DOUBLE
         + 0.0 AS rate,
       round((100000.0 / n_sources) / n_tokens + 1e-9, 6)::DOUBLE + 0.0 AS epochs
FROM per_source CROSS JOIN ns
"""


def q_quality_calibrated_docs(spark, sf_dir):
    """Cross-source quality calibration: percent_rank of the (rounded)
    quality score WITHIN each source — the harmonization step before
    any global quality cut, since raw heuristic scores are not
    comparable across sources with different length/style profiles.
    Rank ties broken by doc_id, so both engines order identically;
    ONE scan (quality_score carries source through) + one window
    shuffle on source."""
    d = _t(spark, sf_dir, "documents")
    j = quality_score(d, keep_cols=("source",)).select(
        "doc_id",
        "source",
        F.round(F.col("quality") + F.lit(1e-9), 6).alias("quality"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("quality").asc(), F.col("doc_id").asc()
    )
    return j.select(
        "doc_id",
        "source",
        "quality",
        F.round(F.percent_rank().over(w) + F.lit(1e-9), 6).alias("pct"),
    )


SQL_QUALITY_CALIB = f"""
WITH base AS ({SQL_QUALITY}),
j AS (
  SELECT b.doc_id, d.source, b.quality
  FROM base b JOIN documents d USING (doc_id)
)
SELECT doc_id, source, quality,
       round(percent_rank() OVER (PARTITION BY source
                                  ORDER BY quality ASC, doc_id ASC)
             + 1e-9, 6)::DOUBLE + 0.0 AS pct
FROM j
"""


def q_salted_join_lineitem(spark, sf_dir):
    """Hot-key-safe equi-join (operators/skewjoin.py salted_join):
    orders replicated n_salts ways, lineitem rows scattered by a
    content-derived per-row salt, equi-join on (key, salt) — the
    largest reducer is bounded at hot_key_rows / n_salts while the
    result multiset stays identical to the plain join. The oracle IS
    the plain join, which is the whole correctness claim."""
    from htm_streamer_spark.operators.skewjoin import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    j = salted_join(li, o, ["l_orderkey"], n_salts=8)
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


SQL_SALTED_JOIN = """
SELECT o_orderpriority, count(*)::BIGINT AS n_items,
       round(sum(l_quantity), 2)::DOUBLE + 0.0 AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


def q_retention_cohorts_events(spark, sf_dir):
    """Weekly cohort retention triangle (operators/funnel.py
    retention_cohorts): users bucketed by first-seen epoch week,
    counted per later active week. Exact integer epoch-microsecond
    bucketing — engine- and timezone-independent."""
    from htm_streamer_spark.operators.funnel import retention_cohorts

    e = _t(spark, sf_dir, "events")
    return retention_cohorts(e)


SQL_RETENTION_COHORTS = """
WITH uw AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS p FROM events
),
c AS (
  SELECT user_id, p, min(p) OVER (PARTITION BY user_id) AS cohort FROM uw
)
SELECT cohort::BIGINT AS cohort_period,
       (p - cohort)::BIGINT AS period_offset,
       count(*)::BIGINT AS n_users
FROM c GROUP BY 1, 2
"""


def q_mixture_sample_docs(spark, sf_dir):
    """Materialized mixture sample (operators/mixing.py
    apply_mixture_sample): each doc kept iff its deterministic
    content-hash coin clears its source's capped sampling rate.
    Broadcast rate table + codegen filter — one corpus pass beyond
    the planning aggregation; floor-explicit cutoffs so both engines
    truncate identically."""
    from htm_streamer_spark.operators.mixing import apply_mixture_sample

    d = _t(spark, sf_dir, "documents")
    return apply_mixture_sample(d, budget_tokens=20_000)


SQL_MIXTURE_SAMPLE = r"""
WITH per_doc AS (
  SELECT doc_id, source,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END::BIGINT AS ntok
  FROM documents
),
per_source AS (
  SELECT source, sum(ntok)::BIGINT AS n_tokens FROM per_doc GROUP BY 1
),
ns AS (SELECT count(*)::BIGINT AS n_sources FROM per_source),
rates AS (
  SELECT source,
         round(least(1.0, (20000.0 / n_sources) / n_tokens) + 1e-9, 6) AS rate
  FROM per_source CROSS JOIN ns
)
SELECT d.doc_id, d.source
FROM documents d JOIN rates r ON d.source = r.source
WHERE ('0x'||substr(md5(d.doc_id::VARCHAR || ':mixture-v1'), 1, 8))::BIGINT % 1000000
      < floor(r.rate * 1000000)::BIGINT
"""


def q_weighted_sample_docs(spark, sf_dir):
    """Exact PPS systematic sample (operators/sampling.py
    weighted_systematic_sample): ~50 docs drawn proportional to
    n_chars along the deterministic hash order. All-integer prefix
    sums + ceiling division — bit-identical selection on any engine
    (transcendental-free by design; see module docstring)."""
    from htm_streamer_spark.operators.sampling import weighted_systematic_sample

    d = _t(spark, sf_dir, "documents")
    return weighted_systematic_sample(d, k=50, weight_col="n_chars")


SQL_WEIGHTED_SAMPLE = """
WITH w AS (
  SELECT doc_id, n_chars AS wt,
         ('0x' || substr(md5(doc_id::VARCHAR || ':wsample-v1'), 1, 8))::BIGINT
           % 1000000 AS h
  FROM documents WHERE n_chars > 0
),
ord AS (
  SELECT doc_id, wt,
         COALESCE(sum(wt) OVER (ORDER BY h % 256, h, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
  FROM w
),
tot AS (SELECT sum(wt) AS W FROM w)
SELECT doc_id, wt::BIGINT AS weight, s::BIGINT AS cum_before
FROM ord, tot
WHERE ((s + wt) * 50 + W - 1) // W > (s * 50 + W - 1) // W
"""


def q_fuzzy_sources_docs(spark, sf_dir):
    """Edit-distance canonicalization (operators/fuzzy.py
    fuzzy_match): every third doc's source label is deterministically
    corrupted (2nd char dropped), then matched back onto the distinct
    true labels within 2 edits. Broadcast nested-loop with a sound
    length-band prefilter; JVM levenshtein; (dist, name) struct-min
    tie-break."""
    from htm_streamer_spark.operators.fuzzy import fuzzy_match

    d = _t(spark, sf_dir, "documents")
    corrupted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.substring("source", 1, 1), F.expr("substring(source, 3)")
            ),
        )
        .otherwise(F.col("source"))
        .alias("source"),
    )
    ref = d.select(F.col("source").alias("name")).distinct()
    return fuzzy_match(corrupted, ref, col="source", max_dist=2)


SQL_FUZZY_SOURCES = """
WITH ref AS (SELECT DISTINCT source AS name FROM documents),
corr AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN substr(source, 1, 1) || substr(source, 3)
              ELSE source END AS value
  FROM documents
),
ranked AS (
  SELECT c.doc_id, c.value, r.name,
         levenshtein(c.value, r.name) AS d,
         row_number() OVER (
           PARTITION BY c.doc_id
           ORDER BY levenshtein(c.value, r.name) ASC, r.name ASC
         ) AS rn
  FROM corr c LEFT JOIN ref r
    ON abs(length(c.value) - length(r.name)) <= 2
   AND levenshtein(c.value, r.name) <= 2
)
SELECT doc_id, value, name AS match, d::INT AS dist
FROM ranked WHERE rn = 1
"""


def q_blamed_suppliers(spark, sf_dir):
    """TPC-H Q21 shape (suppliers-who-kept-orders-waiting) adapted to
    this schema: per supplier, finished orders where ONLY this
    supplier's lineitem came back flagged ('R') among a multi-supplier
    order. Exercises correlated EXISTS / NOT EXISTS as left-semi /
    left-anti self-joins with a non-equi residual (l2.suppkey <>
    l1.suppkey). All three lineitem branches key on l_orderkey — at
    scale, bucketing lineitem by orderkey co-locates every join; the
    returnflag filters push into the scans; the supplier dim stays
    unhinted (AQE broadcasts at bench scale)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    l1 = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    ).alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    ).alias("l3")
    base = l1.join(
        o.filter(F.col("o_orderstatus") == "F").select("o_orderkey"),
        F.col("l1.l_orderkey") == F.col("o_orderkey"),
    )
    semi = base.join(
        l2,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    )
    anti = semi.join(
        l3,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    return (
        anti.join(s, F.col("l1.l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
    )


SQL_BLAMED_SUPPLIERS = """
SELECT s_name, count(*)::BIGINT AS numwait
FROM supplier, lineitem l1, orders o
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
"""


def q_snapshot_diff_docs(spark, sf_dir):
    """Incremental snapshot delta (operators/delta.py snapshot_diff):
    documents vs a deterministically perturbed second snapshot
    (doc_id%13==0 removed, %17==0 text-revised, %19==0 re-added under
    a shifted key). Hash-only full-outer join — the shuffle carries
    (key, md5), never text; co-located (zero-shuffle) when both
    snapshots share a bucket layout."""
    from htm_streamer_spark.operators.delta import snapshot_diff

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    m = F.col("doc_id")
    b_kept = d.filter(m % 13 != 0).withColumn(
        "text",
        F.when(m % 17 == 0, F.concat(F.col("text"), F.lit(" rev2"))).otherwise(
            F.col("text")
        ),
    )
    b_new = d.filter(m % 19 == 0).select(
        (m + 1000000000).alias("doc_id"),
        F.concat(F.lit("new "), F.col("text")).alias("text"),
    )
    return snapshot_diff(d, b_kept.unionByName(b_new), key_col="doc_id")


SQL_SNAPSHOT_DIFF = """
WITH a AS (SELECT doc_id AS key, md5(COALESCE(text, '')) AS h FROM documents),
b AS (
  SELECT doc_id AS key,
         md5(CASE WHEN doc_id % 17 = 0 THEN COALESCE(text, '') || ' rev2'
                  ELSE COALESCE(text, '') END) AS h
  FROM documents WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + 1000000000 AS key, md5('new ' || COALESCE(text, '')) AS h
  FROM documents WHERE doc_id % 19 = 0
)
SELECT COALESCE(a.key, b.key) AS key,
       CASE WHEN a.key IS NULL THEN 'added'
            WHEN b.key IS NULL THEN 'removed'
            ELSE 'changed' END AS change,
       a.h AS old_hash,
       b.h AS new_hash
FROM a FULL OUTER JOIN b ON a.key = b.key
WHERE a.key IS NULL OR b.key IS NULL OR a.h <> b.h
"""


def q_dup_spans_docs(spark, sf_dir):
    """Cross-document duplicated-span fraction
    (operators/repetition.py cross_doc_dup_spans): per doc, the share
    of 5-gram positions whose gram occurs in >= 2 distinct docs —
    span-level dedup signal (Lee et al. 2021 shape) over the
    engine-portable 60-bit md5-prefix gram hash."""
    from htm_streamer_spark.operators.repetition import cross_doc_dup_spans

    d = _t(spark, sf_dir, "documents")
    out = cross_doc_dup_spans(d, n=5, min_docs=2)
    return out.select(
        "doc_id",
        "n_grams",
        "n_dup_grams",
        F.round(F.col("dup_span_frac") + F.lit(1e-9), 6).alias("dup_span_frac"),
    )


SQL_DUP_SPANS = r"""
WITH norm AS (
  SELECT doc_id,
         regexp_split_to_array(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               '\s+') AS ws
  FROM documents
),
grams AS (
  SELECT doc_id,
         ('0x' || substr(md5(ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]),
                  1, 15))::BIGINT AS gh
  FROM norm, unnest(generate_series(1, greatest(len(ws)-4, 0))) AS t(i)
),
docfreq AS (
  SELECT gh, count(DISTINCT doc_id) AS ndocs FROM grams GROUP BY 1
)
SELECT g.doc_id,
       count(*)::BIGINT AS n_grams,
       sum(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_grams,
       round(sum(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END) / count(*)::DOUBLE
             + 1e-9, 6) + 0.0 AS dup_span_frac
FROM grams g JOIN docfreq d USING (gh)
GROUP BY 1
"""


def q_dup_span_extents_docs(spark, sf_dir):
    """Maximal cross-doc duplicated spans
    (operators/repetition.py dup_span_extents): the actual cut-list of
    substring-level dedup (Lee et al. 2021 removes spans, not docs) —
    consecutive duplicated 5-gram positions merged into (doc_id,
    span_start, n_positions, span_len_words) runs via the
    gaps-and-islands window over the same 60-bit gram-hash space as
    dup_spans_docs."""
    from htm_streamer_spark.operators.repetition import dup_span_extents

    d = _t(spark, sf_dir, "documents")
    return dup_span_extents(d, n=5, min_docs=2)


SQL_DUP_SPAN_EXTENTS = r"""
WITH norm AS (
  SELECT doc_id,
         regexp_split_to_array(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               '\s+') AS ws
  FROM documents
),
grams AS (
  SELECT doc_id, i AS p,
         ('0x' || substr(md5(ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]),
                  1, 15))::BIGINT AS gh
  FROM norm, unnest(generate_series(1, greatest(len(ws)-4, 0))) AS t(i)
),
docfreq AS (
  SELECT gh FROM (
    SELECT gh, count(DISTINCT doc_id) AS ndocs FROM grams GROUP BY 1
  ) WHERE ndocs >= 2
),
dup AS (
  SELECT g.doc_id, g.p FROM grams g JOIN docfreq USING (gh)
),
isl AS (
  SELECT doc_id, p,
         p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
  FROM dup
)
SELECT doc_id,
       min(p)::BIGINT AS span_start,
       count(*)::BIGINT AS n_positions,
       (count(*) + 4)::BIGINT AS span_len_words
FROM isl GROUP BY doc_id, grp
"""


def q_chunk_docs(spark, sf_dir):
    """Overlapping token-window chunking (operators/chunking.py
    chunk_tokens): each doc exploded into 64-token chunks with
    stride 48 (16-token overlap), identified by md5 of the chunk
    text. Tokenize-once + explode + shared-array slice — zero
    shuffles; the corpus-to-encoder fan-out every embedding
    pipeline runs."""
    from htm_streamer_spark.operators.chunking import chunk_tokens

    d = _t(spark, sf_dir, "documents")
    return chunk_tokens(d, chunk_size=64, stride=48)


SQL_CHUNK_DOCS = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
),
nc AS (
  SELECT doc_id, t,
         CASE WHEN len(t) <= 64 THEN 1
              ELSE ((len(t) - 64 + 47) // 48) + 1 END::BIGINT AS n_chunks
  FROM toks
),
ch AS (
  SELECT doc_id, t, unnest(range(n_chunks)) AS cid FROM nc
)
SELECT doc_id,
       cid::INT AS chunk_id,
       len(t[cid*48 + 1 : cid*48 + 64])::BIGINT AS n_tokens,
       md5(array_to_string(t[cid*48 + 1 : cid*48 + 64], ' ')) AS chunk_hash
FROM ch
"""


def q_ks_drift_events(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov drift per event_type
    (operators/stattests.py ks_two_sample): the continuous-column
    complement to the binned PSI check (reference gate:
    htm_streamer/utils/anomaly.py moving-window comparison). Samples
    are the deterministic even/odd event_id halves — the stand-in for
    baseline-epoch vs current-epoch. Tie-safe exact ECDFs over
    distinct values; one shuffle + per-group window."""
    from htm_streamer_spark.operators.stattests import ks_two_sample

    e = _t(spark, sf_dir, "events").select(
        "event_type", "value", (F.col("event_id") % 2).alias("half")
    )
    return ks_two_sample(e, "event_type", "value", "half")


SQL_KS_DRIFT = """
WITH pv AS (
  SELECT event_type, value,
         sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS c0,
         sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS c1
  FROM events GROUP BY 1, 2
),
ecdf AS (
  SELECT event_type,
         sum(c0) OVER (PARTITION BY event_type ORDER BY value)
           / sum(c0) OVER (PARTITION BY event_type)::DOUBLE AS f0,
         sum(c1) OVER (PARTITION BY event_type ORDER BY value)
           / sum(c1) OVER (PARTITION BY event_type)::DOUBLE AS f1,
         sum(c0) OVER (PARTITION BY event_type) AS n0,
         sum(c1) OVER (PARTITION BY event_type) AS n1
  FROM pv
)
SELECT event_type,
       round(max(abs(f0 - f1)), 6) + 0.0 AS ks_stat,
       max(n0)::BIGINT AS n0,
       max(n1)::BIGINT AS n1
FROM ecdf GROUP BY 1
"""


def q_conformal_events(spark, sf_dir):
    """Split-conformal anomaly p-values per event_type on value
    (operators/conformal.py): the DISTRIBUTION-FREE member of the
    anomaly family — the likelihood scorer assumes its Gaussian tail;
    conformal's p = (1 + #{calib >= v})/(n_calib + 1) holds
    P(p <= alpha) <= alpha for ANY distribution, exactly, at finite n.
    Calibration = even event_id half (same epoch convention as
    ks_drift). One tie-collapse shuffle + one descending per-group
    cumulative window over distinct values."""
    from htm_streamer_spark.operators.conformal import conformal_pvalues

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        "value",
        (F.col("event_id") % 2).alias("half"),
    )
    return conformal_pvalues(e, "event_type", "value", "half", alpha=0.05)


SQL_CONFORMAL = """
WITH tagged AS (
  SELECT event_type, value, (event_id % 2)::INT AS half FROM events
),
per_value AS (
  SELECT event_type, value,
         sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)::BIGINT AS c0,
         sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT AS c1
  FROM tagged GROUP BY 1, 2
),
scored AS (
  SELECT event_type, value, c1,
         sum(c0) OVER (PARTITION BY event_type ORDER BY value DESC
                       ROWS UNBOUNDED PRECEDING) AS n_ge,
         sum(c0) OVER (PARTITION BY event_type) AS n_cal
  FROM per_value
)
SELECT event_type, value,
       c1 AS n_scored_at,
       n_cal::BIGINT AS n_calib,
       n_ge::BIGINT AS n_calib_ge,
       round((1.0 + n_ge) / (n_cal + 1.0) + 1e-9, 6) + 0.0 AS p_value,
       ((1.0 + n_ge) / (n_cal + 1.0)) <= 0.05 AS is_anomalous
FROM scored WHERE c1 > 0
"""


def q_chisq_docs(spark, sf_dir):
    """Chi-squared independence test between lang and source
    (operators/stattests.py chi_squared_independence): did the
    lang×source mix shift from independent? Full r×c grid from the
    marginals so zero-observed cells still contribute expected mass.
    One scan of documents; marginal frames broadcast."""
    from htm_streamer_spark.operators.stattests import (
        chi_squared_independence,
    )

    d = _t(spark, sf_dir, "documents")
    return chi_squared_independence(d, "lang", "source")


SQL_CHISQ_DOCS = """
WITH cells AS (
  SELECT lang, source, count(*)::BIGINT AS obs FROM documents GROUP BY 1, 2
),
rm AS (SELECT lang, sum(obs)::BIGINT AS row_n FROM cells GROUP BY 1),
cm AS (SELECT source, sum(obs)::BIGINT AS col_n FROM cells GROUP BY 1),
tot AS (SELECT sum(obs)::BIGINT AS n FROM cells),
grid AS (
  SELECT rm.lang, cm.source,
         coalesce(c.obs, 0)::DOUBLE AS obs,
         row_n::DOUBLE * col_n / n AS exp,
         n
  FROM rm CROSS JOIN cm CROSS JOIN tot
  LEFT JOIN cells c ON c.lang = rm.lang AND c.source = cm.source
)
SELECT round(sum((obs - exp) * (obs - exp) / exp), 6) + 0.0 AS chi2,
       ((count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1))::BIGINT
         AS dof,
       max(n)::BIGINT AS n
FROM grid
"""


def q_benford_docs(spark, sf_dir):
    """Benford first-significant-digit divergence of n_chars per
    source (operators/stattests.py benford_divergence) — the
    fabricated-magnitude detector. All nine digits enter via a spine
    join (a never-observed digit still has expected mass)."""
    from htm_streamer_spark.operators.stattests import benford_divergence

    d = _t(spark, sf_dir, "documents")
    return benford_divergence(d, "n_chars", "source")


SQL_BENFORD = """
WITH pos AS (
  SELECT source,
         floor(n_chars / pow(10, floor(log10(n_chars))))::INT AS digit
  FROM documents WHERE n_chars > 0
),
obs AS (SELECT source, digit, count(*)::BIGINT AS obs FROM pos GROUP BY 1, 2),
totals AS (SELECT source, sum(obs)::BIGINT AS n FROM obs GROUP BY 1),
spine AS (
  SELECT d::INT AS digit, log10(1 + 1.0 / d) AS p_exp
  FROM (SELECT unnest(range(1, 10)) AS d)
),
grid AS (
  SELECT t.source, t.n,
         coalesce(o.obs, 0) / t.n::DOUBLE AS p_obs,
         s.p_exp
  FROM totals t CROSS JOIN spine s
  LEFT JOIN obs o ON o.source = t.source AND o.digit = s.digit
)
SELECT source,
       round(sum(n * (p_obs - p_exp) * (p_obs - p_exp) / p_exp), 6) + 0.0
         AS benford_chi2,
       max(n)::BIGINT AS n
FROM grid GROUP BY 1
"""


def q_entropy_docs(spark, sf_dir):
    """Shannon entropy (nats) of the source distribution within each
    lang (operators/stattests.py categorical_entropy) — the
    distribution-collapse signal (entropy → 0 means a lang went
    single-source) a min/max/null-rate profile can't see."""
    from htm_streamer_spark.operators.stattests import categorical_entropy

    d = _t(spark, sf_dir, "documents")
    return categorical_entropy(d, "lang", "source")


SQL_ENTROPY = """
WITH c AS (SELECT lang, source, count(*) AS c FROM documents GROUP BY 1, 2),
p AS (
  SELECT lang,
         c / sum(c) OVER (PARTITION BY lang)::DOUBLE AS p
  FROM c
)
SELECT lang,
       round(-sum(p * ln(p)), 6) + 0.0 AS entropy,
       count(*)::BIGINT AS n_categories
FROM p GROUP BY 1
"""


def q_fd_check_events(spark, sf_dir):
    """Approximate functional-dependency discovery
    (operators/stattests.py fd_violation_summary): does user_id
    determine event_type? Reports total keys, violating keys (>1
    distinct rhs), and the violation rate — the implication-style
    invariant the per-column reference checks can't express. Two
    map-side-combinable aggregations, no count_distinct re-shuffle."""
    from htm_streamer_spark.operators.stattests import fd_violation_summary

    e = _t(spark, sf_dir, "events")
    return fd_violation_summary(e, "user_id", "event_type")


SQL_FD_CHECK = """
WITH pk AS (
  SELECT user_id, count(DISTINCT event_type) AS n_rhs
  FROM events GROUP BY 1
)
SELECT count(*)::BIGINT AS n_keys,
       sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violating,
       round(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END)
             / count(*)::DOUBLE, 6) + 0.0 AS violation_rate
FROM pk
"""


def q_moments_events(spark, sf_dir):
    """Per-event_type skewness and excess kurtosis from raw power
    sums (operators/stattests.py moments_profile). Deliberately NOT
    the engine built-ins — engines disagree on bias correction, so the
    validator pins the raw-moment formula both engines reproduce
    exactly. Single map-side-combinable aggregation."""
    from htm_streamer_spark.operators.stattests import moments_profile

    e = _t(spark, sf_dir, "events")
    return moments_profile(e, "event_type", "value")


SQL_MOMENTS = """
WITH a AS (
  SELECT event_type, count(*)::BIGINT AS n,
         avg(value) AS s1, avg(value * value) AS s2,
         avg(value * value * value) AS s3,
         avg(value * value * value * value) AS s4
  FROM events GROUP BY 1
)
SELECT event_type, n,
       round((s3 - 3 * s1 * s2 + 2 * s1 * s1 * s1)
             / pow(s2 - s1 * s1, 1.5), 6) + 0.0 AS skewness,
       round((s4 - 4 * s1 * s3 + 6 * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1)
             / pow(s2 - s1 * s1, 2) - 3.0, 6) + 0.0 AS excess_kurtosis
FROM a
"""


def q_volume_outliers_events(spark, sf_dir):
    """MAD-based anomalous-partition detection on ingest volume
    (operators/stattests.py mad_count_outliers): hourly event counts,
    exact median + median-absolute-deviation, flag |c - med| >
    k·1.4826·MAD. Robust where mean/stddev gates fail (the burst
    being hunted poisons the mean). k=2 so the synthetic data's
    natural edge-hour dips surface as a non-empty verified result."""
    from htm_streamer_spark.operators.stattests import mad_count_outliers

    e = _t(spark, sf_dir, "events")
    return mad_count_outliers(e, F.date_trunc("hour", F.col("ts")), k=2.0)


SQL_VOLUME_OUTLIERS = """
WITH c AS (
  SELECT date_trunc('hour', ts) AS bucket, count(*)::BIGINT AS c
  FROM events GROUP BY 1
),
m AS (SELECT quantile_cont(c::DOUBLE, 0.5) AS med FROM c),
d AS (SELECT bucket, c, abs(c - med) AS ad, med FROM c CROSS JOIN m),
md AS (SELECT quantile_cont(ad, 0.5) AS mad FROM d)
SELECT bucket, c,
       round(abs(c - med) / (1.4826 * greatest(mad, 1e-12)), 6) + 0.0
         AS robust_z
FROM d CROSS JOIN md
WHERE round(abs(c - med) / (1.4826 * greatest(mad, 1e-12)), 6) > 2.0
"""


def q_trend_events(spark, sf_dir):
    """Monotone-trend detection per event_type
    (operators/rankstats.py spearman_corr): Spearman rank correlation
    between event time and value — "is this column drifting with
    time", the check Pearson misses on nonlinear trends and outliers
    poison. Midranks (tie-correct), Pearson on ranks; ranking by ts
    directly (Spearman only sees order, so no epoch conversion that
    engines could disagree on)."""
    from htm_streamer_spark.operators.rankstats import spearman_corr

    e = _t(spark, sf_dir, "events")
    return spearman_corr(e, "event_type", "ts", "value")


SQL_TREND = """
WITH ranked AS (
  SELECT event_type,
         rank() OVER (PARTITION BY event_type ORDER BY ts)
           + (count(*) OVER (PARTITION BY event_type, ts) - 1) / 2.0 AS rx,
         rank() OVER (PARTITION BY event_type ORDER BY value)
           + (count(*) OVER (PARTITION BY event_type, value) - 1) / 2.0 AS ry
  FROM events
),
a AS (
  SELECT event_type, count(*)::BIGINT AS n,
         avg(rx) AS mx, avg(ry) AS my, avg(rx * ry) AS mxy,
         avg(rx * rx) AS mxx, avg(ry * ry) AS myy
  FROM ranked GROUP BY 1
)
SELECT event_type, n,
       round((mxy - mx * my)
             / sqrt((mxx - mx * mx) * (myy - my * my)), 6) + 0.0
         AS spearman_rho
FROM a
"""


def q_mwu_events(spark, sf_dir):
    """Mann-Whitney U location-shift test per event_type
    (operators/rankstats.py mann_whitney_u) between the even/odd
    event_id halves: the robust median-shift complement to the KS
    distance (ks_drift_events). Tie-corrected z over pooled
    midranks."""
    from htm_streamer_spark.operators.rankstats import mann_whitney_u

    e = _t(spark, sf_dir, "events").select(
        "event_type", "value", (F.col("event_id") % 2).alias("half")
    )
    return mann_whitney_u(e, "event_type", "value", "half")


SQL_MWU = """
WITH ranked AS (
  SELECT event_type, event_id % 2 AS s,
         rank() OVER (PARTITION BY event_type ORDER BY value)
           + (count(*) OVER (PARTITION BY event_type, value) - 1) / 2.0 AS r,
         count(*) OVER (PARTITION BY event_type, value) AS t
  FROM events
),
a AS (
  SELECT event_type,
         sum(CASE WHEN s = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
         sum(CASE WHEN s = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
         sum(CASE WHEN s = 1 THEN r END) AS r1,
         sum(t::DOUBLE * t - 1.0) AS tie_sum
  FROM ranked GROUP BY 1
)
SELECT event_type, n0, n1,
       round(r1 - n1 * (n1 + 1) / 2.0, 6) + 0.0 AS u1,
       round(CASE WHEN n0 * n1 / 12.0
                       * ((n0 + n1 + 1)
                          - tie_sum / ((n0 + n1) * (n0 + n1 - 1.0))) > 0
                  THEN (r1 - n1 * (n1 + 1) / 2.0 - n0 * n1 / 2.0)
                       / sqrt(n0 * n1 / 12.0
                              * ((n0 + n1 + 1)
                                 - tie_sum / ((n0 + n1) * (n0 + n1 - 1.0))))
             END, 6) + 0.0 AS mwu_z
FROM a
"""


def q_join_profile_orders(spark, sf_dir):
    """Pre-join relationship profile of orders vs lineitem on orderkey
    (operators/profiling.py join_profile): cardinality class, worst
    fanout per side, orphan keys, and the EXACT row count an inner
    join would produce — the row-explosion estimate checked BEFORE
    running a 10^12-row join. The shuffle carries one row per distinct
    key (both sides pre-aggregated), never the fact rows."""
    from htm_streamer_spark.operators.profiling import join_profile

    o = _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    l = _t(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k"))
    return join_profile(o, l, "k")


SQL_JOIN_PROFILE = """
WITH lc AS (SELECT o_orderkey AS k, count(*)::BIGINT AS lc
            FROM orders GROUP BY 1),
rc AS (SELECT l_orderkey AS k, count(*)::BIGINT AS rc
       FROM lineitem GROUP BY 1),
j AS (SELECT lc.lc, rc.rc FROM lc FULL OUTER JOIN rc USING (k))
SELECT CASE WHEN max(CASE WHEN rc IS NOT NULL THEN lc ELSE 0 END) <= 1
                 AND max(CASE WHEN lc IS NOT NULL THEN rc ELSE 0 END) <= 1
            THEN '1:1'
            WHEN max(CASE WHEN rc IS NOT NULL THEN lc ELSE 0 END) <= 1
            THEN '1:N'
            WHEN max(CASE WHEN lc IS NOT NULL THEN rc ELSE 0 END) <= 1
            THEN 'N:1'
            ELSE 'M:N' END AS cardinality,
       max(lc)::BIGINT AS max_left_fanout,
       max(rc)::BIGINT AS max_right_fanout,
       sum(CASE WHEN lc IS NOT NULL AND rc IS NOT NULL THEN 1 ELSE 0
           END)::BIGINT AS matched_keys,
       sum(CASE WHEN rc IS NULL THEN 1 ELSE 0 END)::BIGINT
         AS left_only_keys,
       sum(CASE WHEN lc IS NULL THEN 1 ELSE 0 END)::BIGINT
         AS right_only_keys,
       sum(CASE WHEN lc IS NOT NULL AND rc IS NOT NULL THEN lc * rc
                ELSE 0 END)::BIGINT AS inner_join_rows
FROM j
"""


def q_worst_segments_docs(spark, sf_dir):
    """Segment drill-down (operators/profiling.py worst_segments_mean):
    short-document rate (n_chars < 100) per source vs the global rate,
    top-10 by absolute deviation — surfaces the per-segment failures a
    global quality gate masks (Simpson-style). The mean-decomposable
    path: global rate derived from the per-segment sums, so documents
    is scanned ONCE (the generic-aggregate path needs two scans)."""
    from htm_streamer_spark.operators.profiling import worst_segments_mean

    d = _t(spark, sf_dir, "documents")
    return worst_segments_mean(
        d,
        "source",
        (F.col("n_chars") < 100).cast("double"),
        metric_name="short_rate",
        top_k=10,
    )


SQL_WORST_SEGMENTS = """
WITH per AS (
  SELECT source,
         round(avg(CASE WHEN n_chars < 100 THEN 1.0 ELSE 0.0 END), 6) + 0.0
           AS short_rate,
         count(*)::BIGINT AS n_rows
  FROM documents GROUP BY 1
),
overall AS (
  SELECT round(avg(CASE WHEN n_chars < 100 THEN 1.0 ELSE 0.0 END), 6) + 0.0
           AS global_short_rate
  FROM documents
)
SELECT source, short_rate, global_short_rate,
       abs(short_rate - global_short_rate) AS abs_dev, n_rows
FROM per CROSS JOIN overall
ORDER BY abs_dev DESC, source ASC
LIMIT 10
"""


def q_order_count_dist(spark, sf_dir):
    """TPC-H Q13 shape: distribution of orders-per-customer INCLUDING
    zero-order customers (the outer-join-then-double-aggregate OLAP
    shape). Aggregate-before-join: orders collapse to per-custkey
    counts first, so the join input is |customers| + |distinct
    custkeys| rows, never the raw orders."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_cust = c.join(
        o, c.c_custkey == o.o_custkey, "left"
    ).select(F.coalesce(F.col("cnt"), F.lit(0)).alias("c_count"))
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


SQL_ORDER_COUNT_DIST = """
WITH per_cust AS (
  SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS c_count
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY 1
)
SELECT c_count, count(*)::BIGINT AS n_customers
FROM per_cust GROUP BY 1
"""


def q_profile_metrics_docs(spark, sf_dir):
    """One-pass long-format profile (operators/metrics_repo.py
    profile_metrics): row_count + mean/null_rate of n_chars at BOTH
    the global and per-source levels from a single cube aggregation —
    the snapshot the MetricsRepository persists per run for cross-run
    regression gating (run-over-run diffs are pytest-verified in
    test_metrics_repo.py; this pins the profile itself)."""
    from htm_streamer_spark.operators.metrics_repo import profile_metrics

    d = _t(spark, sf_dir, "documents")
    return profile_metrics(d, "source", ["n_chars"]).withColumn(
        "value", F.round("value", 6)
    )


SQL_PROFILE_METRICS = """
WITH cube_f AS (
  SELECT coalesce(source, '_global_') AS segment,
         count(*)::DOUBLE AS row_count,
         avg(n_chars::DOUBLE) AS mean_n_chars,
         avg(CASE WHEN n_chars IS NULL THEN 1.0 ELSE 0.0 END)
           AS null_rate_n_chars
  FROM documents GROUP BY GROUPING SETS ((source), ())
)
SELECT metric, segment, round(value, 6) + 0.0 AS value FROM (
  SELECT 'row_count' AS metric, segment, row_count AS value FROM cube_f
  UNION ALL
  SELECT 'mean_n_chars', segment, mean_n_chars FROM cube_f
  UNION ALL
  SELECT 'null_rate_n_chars', segment, null_rate_n_chars FROM cube_f
)
"""


def q_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: monthly share of revenue from promo-branded
    parts — conditional aggregation over a fact⋈dim join. The part
    side is left UNHINTED: AQE broadcasts it at bench scale and
    shuffle-joins past the threshold (forcing broadcast of a
    web-scale part dim would OOM). Month filter pushed into the
    lineitem scan."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01"))
        & (F.col("l_shipdate") < F.lit("1995-10-01"))
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("p_type").startswith("PROMO"), rev)
                    .otherwise(F.lit(0.0))
                )
                / F.sum(rev),
                6,
            ).alias("promo_share_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


SQL_PROMO_REVENUE = """
SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) + 0.0
         AS promo_share_pct,
       count(*)::BIGINT AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= DATE '1995-09-01' AND l_shipdate < DATE '1995-10-01'
"""


def q_forecast_revenue_lineitem(spark, sf_dir):
    """TPC-H Q6 shape: revenue delta from a discount-band what-if —
    THE predicate-pushdown query: all three range filters
    (shipdate year, discount band, quantity cap) reach the parquet
    scan (plan-asserted in tests/test_plans.py lineage: PushedFilters),
    and the aggregation is a single map-side-combinable sum."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 6
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


SQL_FORECAST_REVENUE = """
SELECT round(sum(l_extendedprice * l_discount), 6) + 0.0 AS revenue,
       count(*)::BIGINT AS n_lines
FROM lineitem
WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q_user_growth_events(spark, sf_dir):
    """New-user growth curve: per day, the count of FIRST-SEEN users
    plus the cumulative total — the running-count-distinct shape done
    scalably (exact running distinct is impossible map-side; the
    first-seen reduction makes it one user-keyed agg + a
    days-sized cumulative window, never a per-row distinct state)."""
    e = _t(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    per_day = first_seen.groupBy("first_day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = (
        Window.orderBy("first_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_day.select(
        # ISO string: engine-independent day representation (python
        # date objects vs datetime64 hash differently)
        F.date_format("first_day", "yyyy-MM-dd").alias("first_day"),
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    )


SQL_USER_GROWTH = """
WITH fs AS (
  SELECT user_id, min(ts::DATE) AS first_day FROM events GROUP BY 1
),
pd AS (SELECT first_day, count(*)::BIGINT AS new_users FROM fs GROUP BY 1)
SELECT strftime(first_day, '%Y-%m-%d') AS first_day, new_users,
       sum(new_users) OVER (ORDER BY first_day
                            ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_users
FROM pd
"""


def q_suggested_checks_docs(spark, sf_dir):
    """Constraint-suggestion loop (operators/suggestions.py): profile
    documents once, derive the spec it satisfies (not-null, padded
    numeric bounds, exact low-cardinality domains gated by an approx
    probe), then enforce the whole spec in ONE aggregation pass on the
    same table — the self-check property (everything passes) plus the
    exact per-constraint counts, both recomputed independently by the
    oracle."""
    from htm_streamer_spark.operators.suggestions import (
        check_constraints,
        suggest_constraints,
    )

    d = _t(spark, sf_dir, "documents")
    spec = suggest_constraints(
        d, ["n_chars"], ["lang", "source"], domain_max=50, pad_frac=0.05
    )
    return check_constraints(d, spec)


SQL_SUGGESTED_CHECKS = """
WITH b AS (
  SELECT min(n_chars)::DOUBLE AS lo, max(n_chars)::DOUBLE AS hi
  FROM documents
)
SELECT constraint_id, "column", kind, n_violations,
       n_violations = 0 AS passed
FROM (
  SELECT 'n_chars.not_null' AS constraint_id, 'n_chars' AS "column",
         'not_null' AS kind,
         (SELECT count(*) FROM documents WHERE n_chars IS NULL)::BIGINT
           AS n_violations
  UNION ALL
  SELECT 'lang.not_null', 'lang', 'not_null',
         (SELECT count(*) FROM documents WHERE lang IS NULL)::BIGINT
  UNION ALL
  SELECT 'source.not_null', 'source', 'not_null',
         (SELECT count(*) FROM documents WHERE source IS NULL)::BIGINT
  UNION ALL
  SELECT 'n_chars.min_bound', 'n_chars', 'min_bound',
         (SELECT count(*) FROM documents, b
          WHERE n_chars IS NOT NULL
            AND n_chars < lo - 0.05 * (hi - lo))::BIGINT
  UNION ALL
  SELECT 'n_chars.max_bound', 'n_chars', 'max_bound',
         (SELECT count(*) FROM documents, b
          WHERE n_chars IS NOT NULL
            AND n_chars > hi + 0.05 * (hi - lo))::BIGINT
  UNION ALL
  SELECT 'lang.in_domain', 'lang', 'in_domain',
         (SELECT count(*) FROM documents WHERE lang IS NOT NULL
          AND lang NOT IN (SELECT DISTINCT lang FROM documents
                           WHERE lang IS NOT NULL))::BIGINT
  UNION ALL
  SELECT 'source.in_domain', 'source', 'in_domain',
         (SELECT count(*) FROM documents WHERE source IS NOT NULL
          AND source NOT IN (SELECT DISTINCT source FROM documents
                             WHERE source IS NOT NULL))::BIGINT
)
"""


def q_returned_revenue(spark, sf_dir):
    """TPC-H Q10 shape: revenue lost to returned items per customer,
    top 20 — fact filter pushed into the lineitem scan, aggregate
    BEFORE the customer join (per-orderkey revenue collapses first, so
    the join input is orders-sized, not lineitem-sized), customer dim
    unhinted for AQE. Deterministic top-20 via (revenue desc,
    c_custkey asc) tie-break."""
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    rev_per_order = l.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "rev"
        )
    )
    per_cust = (
        rev_per_order.join(o, rev_per_order.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.round(F.sum("rev"), 4).alias("revenue"))
    )
    return (
        per_cust.join(c, per_cust.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "revenue")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


SQL_RETURNED_REVENUE = """
WITH rpo AS (
  SELECT l_orderkey,
         sum(l_extendedprice * (1 - l_discount)) AS rev
  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1
),
pc AS (
  SELECT o_custkey, round(sum(rev), 4) + 0.0 AS revenue
  FROM rpo JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1
)
SELECT c_custkey, c_name, revenue
FROM pc JOIN customer ON o_custkey = c_custkey
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q_big_orders(spark, sf_dir):
    """TPC-H Q18 shape (large-volume orders): orders whose total
    lineitem quantity exceeds a threshold, with customer attribution —
    the HAVING-subquery shape lowered to aggregate-then-semi-join:
    quantities collapse per orderkey first (map-side combinable), the
    threshold filter runs on the orders-sized frame, and only
    qualifying orders join to customer."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    qty = l.groupBy("l_orderkey").agg(
        F.sum("l_quantity").alias("total_qty")
    ).filter(F.col("total_qty") > 150)
    return (
        qty.join(o, qty.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 4).alias("o_totalprice"),
            F.round("total_qty", 4).alias("total_qty"),
        )
    )


SQL_BIG_ORDERS = """
WITH qty AS (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150
)
SELECT c_custkey, c_name, o_orderkey,
       round(o_totalprice, 4) + 0.0 AS o_totalprice,
       round(total_qty, 4) + 0.0 AS total_qty
FROM qty JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q_corr_matrix_lineitem(spark, sf_dir):
    """One-pass Pearson correlation matrix over lineitem's numeric
    columns (operators/corrmatrix.py): all C(4,2)=6 pairwise r values
    from power sums in a SINGLE combinable aggregation — one scan, one
    reduce round, where the naive df.stat.corr loop runs a job per
    pair (k² scans at 100 TB). Pairwise-complete null masking; NULL r
    on degenerate pairs. Extends the reference's per-feature profiling
    (htm_streamer/validation.py min/max) to cross-column structure."""
    from htm_streamer_spark.operators.corrmatrix import correlation_matrix

    l = _t(spark, sf_dir, "lineitem")
    return correlation_matrix(
        l, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"], round_to=6
    )


SQL_CORR_MATRIX = """
WITH s AS (SELECT l_quantity::DOUBLE AS q, l_extendedprice::DOUBLE AS e,
                  l_discount::DOUBLE AS d, l_tax::DOUBLE AS t FROM lineitem),
pairs AS (
  SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
         count(*)::BIGINT AS n, corr(q, e) AS raw FROM s
  UNION ALL SELECT 'l_quantity', 'l_discount', count(*)::BIGINT, corr(q, d) FROM s
  UNION ALL SELECT 'l_quantity', 'l_tax', count(*)::BIGINT, corr(q, t) FROM s
  UNION ALL SELECT 'l_extendedprice', 'l_discount', count(*)::BIGINT, corr(e, d) FROM s
  UNION ALL SELECT 'l_extendedprice', 'l_tax', count(*)::BIGINT, corr(e, t) FROM s
  UNION ALL SELECT 'l_discount', 'l_tax', count(*)::BIGINT, corr(d, t) FROM s
)
SELECT col_a, col_b, n, round(raw + 1e-12, 6) + 0.0 AS r FROM pairs
"""


def q_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape (two-nation trade volume by year): supplier and
    customer nation dims are pre-filtered to the two nations of
    interest BEFORE touching the fact (both join build sides shrink
    25×), the shipdate band is pushed into the lineitem scan, and the
    cross-pair predicate runs post-join as one codegen filter. Joins
    unhinted — AQE broadcasts the pruned dims at bench scale and
    shuffle-joins past the threshold."""
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        l.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


SQL_VOLUME_SHIPPING = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       year(l_shipdate)::INT AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 4) + 0.0 AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE l_shipdate BETWEEN '1996-01-01' AND '1997-12-31'
  AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
"""


def q_market_share(spark, sf_dir):
    """TPC-H Q8 shape (national market share): of ECONOMY-part revenue
    sold into ASIA-region customers per order year, the share supplied
    from NATION_3. The part-type filter prunes the fact FIRST (the
    most selective join), the region membership prunes customers
    through two stacked dim joins, and the share is a conditional-sum
    ratio in one aggregation — the 6-table join tree Catalyst reorders
    freely because every dim is declared, not hand-scheduled."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select(
        "p_partkey"
    )
    asia = (
        _t(spark, sf_dir, "nation")
        .join(
            _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey")
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(asia, F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    sn = (
        _t(spark, sf_dir, "supplier")
        .join(
            _t(spark, sf_dir, "nation").select("n_nationkey", "n_name"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1996-01-01", "1997-12-31")
    ).select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"))
    l = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(sn, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("mkt_share")
        )
    )


SQL_MARKET_SHARE = """
SELECT year(o_orderdate)::INT AS o_year,
       round(sum(CASE WHEN sn.n_name = 'NATION_3'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) + 0.0 AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region ON cn.n_regionkey = r_regionkey
WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
  AND o_orderdate BETWEEN '1996-01-01' AND '1997-12-31'
GROUP BY 1
"""


def q_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape (top supplier by interval revenue): the view
    becomes a per-suppkey aggregate over the shipdate-pruned scan; the
    global max joins back as a broadcast 1-row frame (no driver
    collect, same pattern as idle_rich_customers' scalar cut).
    Revenue rounds to 4 BEFORE the max comparison so both engines
    resolve near-ties identically."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = l.groupBy("l_suppkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("max_revenue"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


SQL_TOP_SUPPLIER = """
WITH rev AS (
  SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name, total_revenue + 0.0 AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
"""


def q_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (min-cost supplier per part): the correlated
    MIN-subquery becomes one (part, supplier) aggregate plus a window
    min per part — the offers frame is aggregated ONCE and the
    correlated comparison is a zero-join window equality, not a
    re-scan per part. Part and region-pruned supplier dims shrink
    before touching the fact (AQE broadcasts both); the unit-price
    min compares unrounded doubles computed with identical operand
    order in both engines, rounding only the published column."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "SMALL")
    ).select("p_partkey")
    eu = (
        _t(spark, sf_dir, "nation")
        .join(
            _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .join(eu, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )
    offers = (
        _t(spark, sf_dir, "lineitem")
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(s.select("s_suppkey"), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("p_partkey"), "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        offers.withColumn("min_price", F.min("unit_price").over(w))
        .filter(F.col("unit_price") == F.col("min_price"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "p_partkey", "s_name", "n_name",
            F.round("unit_price", 6).alias("unit_price"),
        )
    )


SQL_MIN_COST_SUPPLIER = """
WITH offers AS (
  SELECT l_partkey AS pk, l_suppkey AS sk,
         min(l_extendedprice / l_quantity) AS unit_price
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE p_size = 15 AND p_type = 'SMALL' AND r_name = 'EUROPE'
  GROUP BY 1, 2
)
SELECT o.pk AS p_partkey, s_name, n_name,
       round(unit_price, 6) + 0.0 AS unit_price
FROM offers o
JOIN supplier ON o.sk = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE unit_price = (SELECT min(unit_price) FROM offers oo WHERE oo.pk = o.pk)
"""


def q_nation_profit(spark, sf_dir):
    """TPC-H Q9 shape (product-line profit by nation and year):
    profit = revenue − a part-cost proxy (``p_retailprice·qty·0.1`` —
    the testdata carries no partsupp table, cited deviation). The
    name-LIKE filter prunes part FIRST so the most selective dim
    drives the join order; supplier→nation resolves the group key
    via broadcast; orders joins only for the year column."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")).select(
        "p_partkey", "p_retailprice"
    )
    sn = (
        _t(spark, sf_dir, "supplier")
        .join(
            _t(spark, sf_dir, "nation").select("n_nationkey", "n_name"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.1)
    )
    return (
        _t(spark, sf_dir, "lineitem")
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(sn, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum(amount), 4).alias("sum_profit"))
    )


SQL_NATION_PROFIT = """
SELECT n_name AS nation, year(o_orderdate)::INT AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)
                 - p_retailprice * l_quantity * 0.1), 4) + 0.0 AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
"""


def q_important_parts(spark, sf_dir):
    """TPC-H Q11 shape (value-concentration screen): per-part shipped
    quantity from one nation's suppliers, kept only where it exceeds
    a fixed fraction of the nation's total — the HAVING-vs-scalar-
    subquery lowered to ONE aggregate reused for both sides (the
    total is a 1-row broadcast re-aggregated from the per-part frame,
    not a second scan). Quantities are integral doubles so the
    threshold comparison is exact in both engines."""
    sn = (
        _t(spark, sf_dir, "supplier")
        .join(
            _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    per_part = (
        _t(spark, sf_dir, "lineitem")
        .join(sn, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.sum("l_quantity").alias("value"))
        .persist()  # parts-grain; both the output and the total read it,
        # and without it Catalyst recomputes the subtree = 2 fact scans
    )
    total = per_part.agg(F.sum("value").alias("total_value"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value") > F.col("total_value") * F.lit(0.001))
        .select("p_partkey", F.round("value", 4).alias("value"))
    )


SQL_IMPORTANT_PARTS = """
WITH per_part AS (
  SELECT l_partkey AS p_partkey, sum(l_quantity) AS value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY 1
)
SELECT p_partkey, round(value, 4) + 0.0 AS value
FROM per_part
WHERE value > (SELECT sum(value) FROM per_part) * 0.001
"""


def q_supplier_cnt_parts(spark, sf_dir):
    """TPC-H Q16 shape (supplier count per part attribute): the NOT-IN
    complaints subquery lowered to a broadcast LEFT ANTI join (the
    excluded-supplier set is dim-sized), then COUNT(DISTINCT suppkey)
    per (brand, size) — a two-phase distinct aggregate Spark plans as
    partial-distinct + final, no row explosion."""
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
    ).select("p_partkey", "p_brand", "p_size")
    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


SQL_SUPPLIER_CNT_PARTS = """
SELECT p_brand, p_size, count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2
"""


def q_excess_ship_suppliers(spark, sf_dir):
    """TPC-H Q20 shape (excess-share suppliers): suppliers who shipped
    >20% of a part's total 1996 quantity for any 'small%' part, kept
    via an aggregate-to-aggregate join per partkey (the correlated
    half-of-availqty threshold, with lineitem standing in for the
    absent partsupp), then DISTINCT suppliers semi-joined into the
    nation-filtered dim. Integral quantities make the 0.2·total
    comparison exact in both engines."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("small%")).select(
        "p_partkey"
    )
    l96 = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
        )
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    per_supp = l96.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("supp_qty")
    ).persist()  # (part, supplier)-grain, far below fact size
    # the per-part total is an exact re-aggregation of per_supp — ONE
    # fact scan total instead of recomputing l96 for a second rollup
    per_part = per_supp.groupBy("l_partkey").agg(
        F.sum("supp_qty").alias("part_qty")
    )
    heavy = (
        per_supp.join(per_part, "l_partkey")
        .filter(F.col("supp_qty") > F.col("part_qty") * F.lit(0.2))
        .select("l_suppkey")
        .distinct()
    )
    sn = (
        _t(spark, sf_dir, "supplier")
        .join(
            _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return sn.join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")


SQL_EXCESS_SHIP_SUPPLIERS = """
WITH l96 AS (
  SELECT l_partkey, l_suppkey, l_quantity
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'small%'
    AND l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
),
per_supp AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
  FROM l96 GROUP BY 1, 2
),
per_part AS (
  SELECT l_partkey, sum(l_quantity) AS part_qty FROM l96 GROUP BY 1
)
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
  AND s_suppkey IN (
    SELECT DISTINCT ps.l_suppkey
    FROM per_supp ps JOIN per_part pp ON ps.l_partkey = pp.l_partkey
    WHERE ps.supp_qty > pp.part_qty * 0.2
  )
"""


def q_checksum_orders(spark, sf_dir):
    """Order-independent cross-engine content digest of orders per
    orderstatus (operators/checksum.py): canonical row rendering →
    60-bit md5 → exact-arithmetic SUM mod 10^18. One scan, map-side
    combinable, no sort — the replica/snapshot equality check that
    works at 10^12 rows. The oracle recomputing the digest from the
    documented canonical form IS the cross-engine claim."""
    from htm_streamer_spark.operators.checksum import table_digest

    o = _t(spark, sf_dir, "orders")
    return table_digest(
        o,
        ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderpriority"],
        group_by="o_orderstatus",
    )


SQL_CHECKSUM_ORDERS = r"""
SELECT o_orderstatus,
       count(*)::BIGINT AS n_rows,
       (sum(('0x' || substr(md5(concat_ws(chr(31),
              coalesce(o_orderkey::VARCHAR, chr(1)),
              coalesce(o_custkey::VARCHAR, chr(1)),
              coalesce(o_totalprice::DECIMAL(28,6)::VARCHAR, chr(1)),
              coalesce(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), chr(1)),
              coalesce(o_orderpriority, chr(1)))), 1, 15))::BIGINT)::HUGEINT
        % 1000000000000000000)::BIGINT AS digest
FROM orders GROUP BY 1
"""


_RP_OUT_DIM, _RP_SEED = 8, 7


def q_rp_embeddings(spark, sf_dir):
    """Seeded JL random projection of the 64-dim embeddings to 8 dims
    (operators/projection.py): the Rademacher matrix ships as column
    literals, each output dim one codegen zip_with/aggregate fold —
    one scan, ZERO shuffle, no UDF. Long format keeps the comparison
    scalar; the oracle rebuilds the identical matrix from the same
    seed."""
    from htm_streamer_spark.operators.projection import random_projection

    e = _t(spark, sf_dir, "embeddings")
    return random_projection(
        e, "vec_id", "embedding", in_dim=64, out_dim=_RP_OUT_DIM, seed=_RP_SEED,
        round_to=6,
    )


def _sql_rp_embeddings() -> str:
    from htm_streamer_spark.operators.projection import rademacher_matrix

    mat = rademacher_matrix(_RP_OUT_DIM, 64, seed=_RP_SEED)
    rows = ", ".join(
        f"({j}, [{', '.join(repr(float(w)) for w in mat[j])}]::DOUBLE[])"
        for j in range(_RP_OUT_DIM)
    )
    return f"""
WITH m(j, w) AS (VALUES {rows})
SELECT e.vec_id, m.j,
       round(list_dot_product(list_transform(e.embedding, x -> x::DOUBLE), m.w)
             + 1e-12, 6) + 0.0 AS value
FROM embeddings e CROSS JOIN m
"""


def q_embed_integrity(spark, sf_dir):
    """Embedding-column integrity validation (operators/veccheck.py):
    per-label counts of null / wrong-dim / NaN-or-Inf / zero vectors
    plus the L2-norm profile of well-formed ones — the vector analog of
    the token-array invariants, run BEFORE any dedup/ANN pipeline
    trusts the column. One scan, per-row checks are codegen array folds
    (no explode: an explode would shuffle dim rows per vector), one
    partial-aggregated shuffle of counter rows."""
    from htm_streamer_spark.operators.veccheck import embedding_integrity

    e = _t(spark, sf_dir, "embeddings")
    out = embedding_integrity(e, "embedding", dim=64, group_by="label")
    return out.withColumn("ok", F.col("ok").cast("long"))


SQL_EMBED_INTEGRITY = """
WITH v AS (
  SELECT label,
         embedding IS NULL AS is_null,
         embedding IS NOT NULL AND len(embedding) <> 64 AS wrong_dim,
         embedding IS NOT NULL AND len(list_filter(embedding,
             x -> isnan(x::DOUBLE) OR isinf(x::DOUBLE))) > 0 AS nonfinite,
         CASE WHEN embedding IS NOT NULL THEN
           list_dot_product(list_transform(embedding, x -> x::DOUBLE),
                            list_transform(embedding, x -> x::DOUBLE))
         END AS sumsq
  FROM embeddings
)
SELECT label,
       count(*) AS n_vec,
       sum(CASE WHEN is_null THEN 1 ELSE 0 END)::BIGINT AS n_null,
       sum(CASE WHEN wrong_dim THEN 1 ELSE 0 END)::BIGINT AS n_wrong_dim,
       sum(CASE WHEN nonfinite THEN 1 ELSE 0 END)::BIGINT AS n_nonfinite,
       sum(CASE WHEN NOT is_null AND NOT wrong_dim AND NOT nonfinite
                 AND sqrt(sumsq) = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero,
       round(min(CASE WHEN NOT is_null AND NOT wrong_dim AND NOT nonfinite
                      THEN sqrt(sumsq) END) + 1e-12, 6) + 0.0 AS norm_min,
       round(max(CASE WHEN NOT is_null AND NOT wrong_dim AND NOT nonfinite
                      THEN sqrt(sumsq) END) + 1e-12, 6) + 0.0 AS norm_max,
       round(avg(CASE WHEN NOT is_null AND NOT wrong_dim AND NOT nonfinite
                      THEN sqrt(sumsq) END) + 1e-12, 6) + 0.0 AS norm_avg,
       (sum(CASE WHEN is_null OR wrong_dim OR nonfinite THEN 1 ELSE 0 END)
        = 0)::BIGINT AS ok
FROM v GROUP BY label
"""


def q_embed_isotropy(spark, sf_dir):
    """Per-label embedding-space collapse detector
    (operators/veccheck.py embedding_isotropy): centroid ratio
    (direction+magnitude alignment), spherical mean resultant length
    (direction-only collapse), and the participation-ratio effective
    dimension of per-dim variances (rank collapse) — the population-
    geometry member of the embedding family (integrity = per-vector,
    dim profile = marginal drift). Same 100-TB plan contract as the
    dim profile: NO posexplode; one shuffle of (3*dim+2)-counter
    partial rows."""
    from htm_streamer_spark.operators.veccheck import embedding_isotropy

    e = _t(spark, sf_dir, "embeddings")
    return embedding_isotropy(e, "embedding", dim=64, group_by="label")


def _iso_oracle_sql(dim: int = 64) -> str:
    sums = ",\n".join(
        f"         sum(e[{j + 1}]) AS s{j},"
        f" sum(e[{j + 1}] * e[{j + 1}]) AS q{j},"
        f" sum(e[{j + 1}] / nrm) AS u{j}"
        for j in range(dim)
    )
    cent = "\n           + ".join(
        f"(s{j} / nv) * (s{j} / nv)" for j in range(dim)
    )
    resu = "\n           + ".join(
        f"(u{j} / nv) * (u{j} / nv)" for j in range(dim)
    )
    vj = lambda j: f"(q{j} / nv - (s{j} / nv) * (s{j} / nv))"  # noqa: E731
    vsum = "\n           + ".join(vj(j) for j in range(dim))
    vsq = "\n           + ".join(f"{vj(j)} * {vj(j)}" for j in range(dim))
    return f"""
WITH v AS (
  SELECT label, list_transform(embedding, x -> x::DOUBLE) AS e,
         sqrt(list_dot_product(list_transform(embedding, x -> x::DOUBLE),
                               list_transform(embedding, x -> x::DOUBLE)))
           AS nrm
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {dim}
    AND len(list_filter(embedding,
            x -> isnan(x::DOUBLE) OR isinf(x::DOUBLE))) = 0
),
w AS (SELECT label, e, nrm FROM v WHERE nrm > 0),
a AS (
  SELECT label, count(*)::BIGINT AS n_valid, sum(nrm) AS sn,
{sums}
  FROM w GROUP BY 1
),
b AS (
  SELECT label, n_valid, sn, n_valid::DOUBLE AS nv FROM a
),
c AS (
  SELECT b.label, b.n_valid, b.sn, b.nv,
         ({cent}) AS cent,
         ({resu}) AS resu,
         ({vsum}) AS vs,
         ({vsq}) AS vq
  FROM b JOIN a ON a.label = b.label
)
SELECT label, n_valid,
       round(sn / nv + 1e-12, 6) + 0.0 AS mean_norm,
       round(sqrt(cent) / (sn / nv) + 1e-12, 6) + 0.0 AS centroid_ratio,
       round(sqrt(resu) + 1e-12, 6) + 0.0 AS resultant,
       CASE WHEN vq > 0 THEN
         round(vs * vs / vq / {float(dim)!r} + 1e-12, 6) + 0.0
       END AS eff_dim_frac
FROM c
"""


SQL_EMBED_ISOTROPY = _iso_oracle_sql(64)


def q_embed_dim_profile(spark, sf_dir):
    """Per-dimension mean/std of the embedding column per label
    (operators/veccheck.py embedding_dim_profile) — the baseline a
    dimension-wise drift monitor compares snapshots against. The plan
    to check at 100 TB: NO posexplode of vectors (that would shuffle
    64 rows per vector); each dim is two codegen agg expressions, the
    shuffle carries one 128-counter row per (task, label), and the
    long output explodes the already-aggregated group-sized frame."""
    from htm_streamer_spark.operators.veccheck import embedding_dim_profile

    e = _t(spark, sf_dir, "embeddings")
    return embedding_dim_profile(e, "embedding", dim=64, group_by="label")


SQL_EMBED_DIM_PROFILE = """
WITH v AS (
  SELECT label, embedding,
         embedding IS NOT NULL AND len(embedding) = 64
         AND len(list_filter(embedding,
             x -> isnan(x::DOUBLE) OR isinf(x::DOUBLE))) = 0 AS ok
  FROM embeddings
)
SELECT v.label, d.j::INT AS j,
       round(avg(CASE WHEN v.ok THEN v.embedding[d.j + 1]::DOUBLE END)
             + 1e-12, 6) + 0.0 AS mean,
       round(sqrt(greatest(var_pop(
                 CASE WHEN v.ok THEN v.embedding[d.j + 1]::DOUBLE END), 0.0))
             + 1e-12, 6) + 0.0 AS std
FROM v CROSS JOIN range(64) d(j)
GROUP BY v.label, d.j
"""


def q_leak_split_docs(spark, sf_dir):
    """Leakage-safe train/val/test split (operators/sampling.py
    leakage_safe_split): the split unit is the near-dup CLUSTER, so a
    test doc can never have a near-copy in train — the leakage a
    doc-level hash split silently permits. Connected components over
    the confirmed MinHash pair list, then the standard content-hash
    split keyed on cluster_id (zero-shuffle projection). Oracle:
    recursive-CTE transitive closure + the identical md5 bucket
    recipe on the closure's cluster id."""
    from htm_streamer_spark.operators.dedup import minhash_near_duplicates
    from htm_streamer_spark.operators.sampling import leakage_safe_split

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(d, jaccard_threshold=0.5, method="md5")
    out = leakage_safe_split(
        d.select("doc_id"), pairs, {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return out.select("doc_id", "cluster_id", "split")


SQL_LEAK_SPLIT = f"""
WITH RECURSIVE edges AS (
  SELECT doc_a AS a, doc_b AS b FROM ({SQL_MINHASH_PAIRS}) q
  UNION
  SELECT doc_b, doc_a FROM ({SQL_MINHASH_PAIRS}) q2
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
cc AS (
  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
),
m AS (
  SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN cc USING (doc_id)
),
b AS (
  SELECT doc_id, cluster_id,
         ('0x'||substr(md5(cluster_id::VARCHAR || ':split-v1'), 1, 8))::BIGINT
           % 1000000 AS bucket
  FROM m
)
SELECT doc_id, cluster_id,
       CASE WHEN bucket < 800000 THEN 'train'
            WHEN bucket < 900000 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


def q_gaps_events(spark, sf_dir):
    """Ingestion-hole detection (operators/profiling.py time_gaps):
    hourly slots between each event_type's first and last event with
    ZERO rows — the feed-dropped-a-window failure row-level checks
    can't see. Facts touched once (one agg to the bucket grain); the
    sequence() explode is bounded by groups × slots (metadata-scale),
    anti-join broadcast-eligible."""
    from htm_streamer_spark.operators.profiling import time_gaps

    e = _t(spark, sf_dir, "events")
    return time_gaps(e, "ts", "event_type", bucket="hour")


SQL_GAPS_EVENTS = """
WITH obs AS (
  SELECT event_type, date_trunc('hour', ts) AS b
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, min(b) AS lo, max(b) AS hi FROM obs GROUP BY 1
),
expected AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS gap_start
  FROM bounds
)
SELECT e.event_type, e.gap_start
FROM expected e LEFT JOIN obs o
  ON e.event_type = o.event_type AND e.gap_start = o.b
WHERE o.b IS NULL
"""


def q_dup_component_sizes_docs(spark, sf_dir):
    """Near-dup component SIZE distribution: (cluster size, number of
    clusters) over the full corpus — the shape check run before
    trusting a dedup pass (one giant component usually means the
    similarity threshold collapsed; millions of pairs is normal,
    one 10^8-doc cluster is not). Derived from connected components
    with two metadata-scale aggregations; singletons included (size
    1 = docs in no pair). Oracle: recursive-CTE transitive closure."""
    from htm_streamer_spark.operators.clustering import dedup_clusters
    from htm_streamer_spark.operators.dedup import minhash_near_duplicates

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(d, jaccard_threshold=0.5, method="md5")
    cc = dedup_clusters(d, pairs)
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("size"))
    return sizes.groupBy("size").agg(F.count(F.lit(1)).alias("n_clusters"))


SQL_DUP_COMPONENT_SIZES = f"""
WITH RECURSIVE edges AS (
  SELECT doc_a AS a, doc_b AS b FROM ({SQL_MINHASH_PAIRS}) q
  UNION
  SELECT doc_b, doc_a FROM ({SQL_MINHASH_PAIRS}) q2
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
cc AS (
  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
),
m AS (
  SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN cc USING (doc_id)
),
s AS (
  SELECT cluster_id, count(*)::BIGINT AS size FROM m GROUP BY 1
)
SELECT size, count(*)::BIGINT AS n_clusters FROM s GROUP BY 1
"""


def q_winsorized_docs(spark, sf_dir):
    """Per-source winsorized length profile (operators/stats.py
    winsorize, exact tier): clip n_chars to the source's [p5, p95],
    then the robust mean — the pre-step that stops one pathological
    doc from owning a mean-based quality gate. One agg for the bounds
    (one row per source, broadcast back), one codegen clip, one
    profile agg. The approx-sketch tier is the 100-TB default; the
    exact tier shares quantile_cont interpolation with DuckDB."""
    from htm_streamer_spark.operators.stats import winsorize

    d = _t(spark, sf_dir, "documents")
    w = winsorize(d, "n_chars", group_col="source", lo=0.05, hi=0.95, exact=True)
    return w.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("mean_raw"),
        F.round(F.avg("n_chars_w"), 6).alias("mean_w"),
        F.round(F.min("n_chars_w"), 6).alias("lo_w"),
        F.round(F.max("n_chars_w"), 6).alias("hi_w"),
    )


SQL_WINSORIZED = """
WITH b AS (
  SELECT source, quantile_cont(n_chars, 0.05) AS q_lo,
         quantile_cont(n_chars, 0.95) AS q_hi
  FROM documents GROUP BY 1
)
SELECT d.source, count(*)::BIGINT AS n_docs,
       round(avg(d.n_chars), 6) + 0.0 AS mean_raw,
       round(avg(least(greatest(d.n_chars::DOUBLE, b.q_lo), b.q_hi)), 6) + 0.0 AS mean_w,
       round(min(least(greatest(d.n_chars::DOUBLE, b.q_lo), b.q_hi)), 6) + 0.0 AS lo_w,
       round(max(least(greatest(d.n_chars::DOUBLE, b.q_lo), b.q_hi)), 6) + 0.0 AS hi_w
FROM documents d JOIN b USING (source)
GROUP BY 1
"""


def q_jaccard_join_docs(spark, sf_dir):
    """EXACT all-pairs Jaccard join at threshold 0.5 via prefix
    filtering (operators/setjoin.py, Bayardo et al. 2007), over the
    SAME 3-gram shingle space the MinHash tier hashes — this is the
    ground truth minhash_pairs_docs' LSH recall approximates, with zero
    recall loss. The oracle recomputes every pair from scratch with an
    exploded co-count join — no shared candidate pruning, so a pruning
    bug would show as a missing row, not a matching one."""
    from htm_streamer_spark.operators.setjoin import jaccard_similarity_join

    d = _t(spark, sf_dir, "documents")
    pairs = jaccard_similarity_join(d, threshold=0.5, mode="shingles", n=3)
    return pairs.select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


SQL_JACCARD_JOIN = """
WITH norm AS (
  SELECT doc_id,
         regexp_split_to_array(
           regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\\s+') AS ws
  FROM documents
),
grams AS (
  SELECT doc_id,
         list_distinct(list_filter(
           list_transform(generate_series(1, greatest(len(ws)-2, 0)),
                          i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]),
           g -> length(g) > 0)) AS gs
  FROM norm
),
wx AS (
  SELECT doc_id, len(gs) AS sz, unnest(gs) AS w FROM grams WHERE len(gs) > 0
),
co AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sz AS sa, b.sz AS sb,
         count(*) AS c
  FROM wx a JOIN wx b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b, round(c / (sa + sb - c), 6)::DOUBLE + 0.0 AS jaccard
FROM co WHERE c / (sa + sb - c) >= 0.5
"""


def q_wasserstein_events(spark, sf_dir):
    """Per-event_type 1-D Wasserstein distance of the bucketized value
    histogram vs the pooled baseline (operators/stattests.py
    wasserstein_binned): the metric member of the drift family — PSI/KL
    saturate on disjoint support, W1 reports how FAR the mass moved in
    bucket units. Same single-scan shape as drift_psi_events: one
    groupBy(event_type, bucket), all derivations from that tiny frame."""
    from htm_streamer_spark.operators.stattests import wasserstein_binned

    e = _t(spark, sf_dir, "events")
    bucket = F.least(F.lit(15), F.floor(F.col("value") / 31.25)).cast("int")
    per = (
        e.select(F.col("event_type"), bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return wasserstein_binned(per, "event_type", "bucket", "cnt")


SQL_WASSERSTEIN = """
WITH per AS (
  SELECT event_type, least(15, floor(value / 31.25))::INT AS bucket,
         count(*)::BIGINT AS cnt
  FROM events GROUP BY 1, 2
),
base AS (SELECT bucket, sum(cnt)::BIGINT AS qcnt FROM per GROUP BY 1),
grid AS (
  SELECT g.event_type, b.bucket, b.qcnt
  FROM (SELECT DISTINCT event_type FROM per) g CROSS JOIN base b
),
j AS (
  SELECT grid.event_type, grid.bucket, grid.qcnt,
         coalesce(per.cnt, 0)::BIGINT AS cnt
  FROM grid LEFT JOIN per
    ON per.event_type = grid.event_type AND per.bucket = grid.bucket
),
c AS (
  SELECT event_type,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket)
           / (sum(cnt) OVER (PARTITION BY event_type))::DOUBLE AS cp,
         sum(qcnt) OVER (PARTITION BY event_type ORDER BY bucket)
           / (sum(qcnt) OVER (PARTITION BY event_type))::DOUBLE AS cq,
         coalesce(lead(bucket) OVER (PARTITION BY event_type ORDER BY bucket)
                    - bucket, 1) AS width
  FROM j
)
SELECT event_type, round(sum(abs(cp - cq) * width), 6) + 0.0 AS w1
FROM c GROUP BY 1
"""


def _drift_zscores(spark, sf_dir):
    """Shared per-event_type two-sided z-test frame (event_type, z,
    p_value): pooled-variance normal approximation of each type's mean
    value vs the pooled mean, p via the A&S erfc polynomial
    (operators/likelihood.py erfc_expr). One scan: a single
    groupBy(event_type) power-sum aggregate feeds z and p; the pooled
    sums are window-over-() on the |types|-row frame (a separate
    .agg() would re-derive it => second scan). Feeds BOTH multiplicity
    corrections (BH step-up, Holm step-down)."""
    from htm_streamer_spark.operators.likelihood import erfc_expr

    from pyspark.sql import Window as W

    e = _t(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("value").alias("s"),
        F.sum(F.col("value") * F.col("value")).alias("ss"),
    )
    w_all = W.partitionBy()
    mu = F.col("sg") / F.col("nn")
    var = F.col("ssg") / F.col("nn") - mu * mu
    z = (F.col("s") / F.col("n") - mu) / F.sqrt(var / F.col("n"))
    return (
        agg.withColumn("nn", F.sum("n").over(w_all))
        .withColumn("sg", F.sum("s").over(w_all))
        .withColumn("ssg", F.sum("ss").over(w_all))
        .withColumn("z", z)
        .withColumn(
            "p_value", erfc_expr(F.abs(F.col("z")) / F.lit(1.4142135623730951))
        )
        .select("event_type", "z", "p_value")
    )


def q_fdr_drift_events(spark, sf_dir):
    """Benjamini–Hochberg FDR-controlled drift alerting
    (operators/stattests.py benjamini_hochberg): one two-sided z-test of
    each event_type's mean value against the pooled mean (pooled-
    variance normal approximation, p via the same A&S erfc polynomial
    the likelihood gate uses — operators/likelihood.py erfc_expr), then
    the BH step-up at q=0.05 across the m simultaneous tests. The
    multiplicity correction is what makes per-partition drift testing
    honest at fleet scale (thousands of partitions => a fixed alpha
    guarantees false alarms). One scan: a single groupBy(event_type)
    power-sum aggregate feeds z, p, and the BH rank."""
    from htm_streamer_spark.operators.stattests import benjamini_hochberg

    scored = _drift_zscores(spark, sf_dir)
    bh = benjamini_hochberg(scored, "p_value", q=0.05, tie_cols=("event_type",))
    return bh.select(
        "event_type",
        F.round("z", 6).alias("z"),
        F.round("p_value", 6).alias("p_value"),
        F.col("rank").cast("long").alias("rank"),
        "bh_threshold",
        F.col("rejected").cast("int").alias("rejected"),
    )


SQL_FDR_DRIFT = """
WITH agg AS (
  SELECT event_type, count(*)::DOUBLE AS n, sum(value)::DOUBLE AS s,
         sum(value * value)::DOUBLE AS ss
  FROM events GROUP BY 1
),
pool AS (SELECT sum(n) AS nn, sum(s) AS sg, sum(ss) AS ssg FROM agg),
zc AS (
  SELECT event_type,
         (s / n - sg / nn)
           / sqrt((ssg / nn - (sg / nn) * (sg / nn)) / n) AS z
  FROM agg, pool
),
pv AS (
  SELECT event_type, z, 1.0 / (1.0 + 0.3275911 * x) AS t, x
  FROM (SELECT event_type, z, abs(z) / 1.4142135623730951 AS x FROM zc)
),
p AS (
  SELECT event_type, z,
         (t * (0.254829592 + t * (-0.284496736 + t * (1.421413741
            + t * (-1.453152027 + t * 1.061405429))))) * exp(-x * x)
           AS p_value
  FROM pv
),
ranked AS (
  SELECT event_type, z, p_value,
         row_number() OVER (ORDER BY p_value, event_type) AS rank,
         count(*) OVER () AS m
  FROM p
),
flags AS (
  SELECT *,
         CASE WHEN p_value <= rank * 0.05 / m THEN rank ELSE 0 END AS hit
  FROM ranked
),
k AS (SELECT max(hit) AS k FROM flags)
SELECT event_type, round(z, 6) + 0.0 AS z,
       round(p_value, 6) + 0.0 AS p_value,
       rank::BIGINT AS rank,
       round(rank * 0.05 / m, 6) + 0.0 AS bh_threshold,
       (CASE WHEN rank <= k.k AND k.k > 0 THEN 1 ELSE 0 END)::INT AS rejected
FROM flags, k
"""


def q_holm_drift_events(spark, sf_dir):
    """Holm step-down FWER-controlled drift alerting
    (operators/stattests.py holm_stepdown) over the SAME per-type
    z-test frame as fdr_drift_events: BH bounds the false-alarm
    FRACTION (triage), Holm bounds the probability of even ONE false
    alarm (paging), no independence assumption. The first rank that
    misses alpha/(m-i+1) stops everything after it — the prefix rule
    is one cumulative min over the rank order."""
    from htm_streamer_spark.operators.stattests import holm_stepdown

    scored = _drift_zscores(spark, sf_dir)
    h = holm_stepdown(scored, "p_value", alpha=0.05, tie_cols=("event_type",))
    return h.select(
        "event_type",
        F.round("z", 6).alias("z"),
        F.round("p_value", 6).alias("p_value"),
        F.col("rank").cast("long").alias("rank"),
        "holm_threshold",
        F.col("rejected").cast("int").alias("rejected"),
    )


SQL_HOLM_DRIFT = """
WITH agg AS (
  SELECT event_type, count(*)::DOUBLE AS n, sum(value)::DOUBLE AS s,
         sum(value * value)::DOUBLE AS ss
  FROM events GROUP BY 1
),
pool AS (SELECT sum(n) AS nn, sum(s) AS sg, sum(ss) AS ssg FROM agg),
zc AS (
  SELECT event_type,
         (s / n - sg / nn)
           / sqrt((ssg / nn - (sg / nn) * (sg / nn)) / n) AS z
  FROM agg, pool
),
pv AS (
  SELECT event_type, z, 1.0 / (1.0 + 0.3275911 * x) AS t, x
  FROM (SELECT event_type, z, abs(z) / 1.4142135623730951 AS x FROM zc)
),
p AS (
  SELECT event_type, z,
         (t * (0.254829592 + t * (-0.284496736 + t * (1.421413741
            + t * (-1.453152027 + t * 1.061405429))))) * exp(-x * x)
           AS p_value
  FROM pv
),
ranked AS (
  SELECT event_type, z, p_value,
         row_number() OVER (ORDER BY p_value, event_type) AS rank,
         count(*) OVER () AS m
  FROM p
),
flags AS (
  SELECT *,
         CASE WHEN p_value <= 0.05 / (m - rank + 1) THEN 1 ELSE 0 END AS ok
  FROM ranked
),
pref AS (
  SELECT *, min(ok) OVER (ORDER BY rank ROWS UNBOUNDED PRECEDING) AS pok
  FROM flags
)
SELECT event_type, round(z, 6) + 0.0 AS z,
       round(p_value, 6) + 0.0 AS p_value,
       rank::BIGINT AS rank,
       round(0.05 / (m - rank + 1), 6) + 0.0 AS holm_threshold,
       pok::INT AS rejected
FROM pref
"""


def q_centroid_drift_embeddings(spark, sf_dir):
    """Per-label embedding-centroid drift vs the corpus centroid
    (operators/drift.py centroid_drift): cosine + L2 between mean
    vectors — the SEMANTIC drift check the token-histogram family can't
    see. One posexplode scan; the shuffle carries |labels|×dim rows;
    the global centroid derives from the per-label sums (no second
    scan)."""
    from htm_streamer_spark.operators.drift import centroid_drift

    e = _t(spark, sf_dir, "embeddings")
    out = centroid_drift(e, "label", "embedding")
    return out.select(
        "label",
        "n_vecs",
        F.round("cos_sim", 6).alias("cos_sim"),
        F.round("l2_dist", 6).alias("l2_dist"),
    )


SQL_CENTROID_DRIFT = """
WITH x AS (
  SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
         unnest(embedding)::DOUBLE AS v
  FROM embeddings
),
per AS (
  SELECT label, pos, sum(v) AS s, count(*) AS n FROM x GROUP BY 1, 2
),
gtot AS (SELECT pos, sum(s) AS gs, sum(n) AS gn FROM per GROUP BY 1),
j AS (
  SELECT per.label, per.n, per.s / per.n AS m, gtot.gs / gtot.gn AS gm
  FROM per JOIN gtot USING (pos)
)
SELECT label, max(n)::BIGINT AS n_vecs,
       round(sum(m * gm) / sqrt(sum(m * m) * sum(gm * gm)), 6) + 0.0
         AS cos_sim,
       round(sqrt(sum((m - gm) * (m - gm))), 6) + 0.0 AS l2_dist
FROM j GROUP BY 1
"""


def q_pmi_docs(spark, sf_dir):
    """Top-50 collocations by pointwise mutual information
    (operators/textstats.py pmi_collocations, Church & Hanks 1990),
    min bigram count 5 — the phrase-mining signal over the documents
    corpus. One tokenizing scan emits unigrams + bigrams together; PMI
    arithmetic is per-row over exact integer counts, so the oracle's
    recompute is bit-identical."""
    from htm_streamer_spark.operators.textstats import pmi_collocations

    d = _t(spark, sf_dir, "documents")
    out = pmi_collocations(d, min_count=5, top_k=50)
    return out.select("w1", "w2", "c_ab", F.round("pmi", 6).alias("pmi"))


SQL_PMI_DOCS = """
WITH f AS (
  SELECT list_filter(
           regexp_split_to_array(
             regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\\s+'),
           x -> length(x) > 0) AS ws
  FROM documents
),
uni AS (
  SELECT w, count(*) AS c FROM (SELECT unnest(ws) AS w FROM f) GROUP BY 1
),
bi AS (
  SELECT g, count(*) AS c FROM (
    SELECT unnest(list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
                                 i -> ws[i] || ' ' || ws[i+1])) AS g
    FROM f
  ) GROUP BY 1
),
n1 AS (SELECT sum(c)::BIGINT AS n FROM uni),
n2 AS (SELECT sum(c)::BIGINT AS n FROM bi),
scored AS (
  SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2,
         bi.c AS c_ab,
         ln((bi.c / n2.n) / ((ua.c / n1.n) * (ub.c / n1.n))) AS pmi
  FROM bi, n1, n2
  JOIN uni ua ON ua.w = split_part(g, ' ', 1)
  JOIN uni ub ON ub.w = split_part(g, ' ', 2)
  WHERE bi.c >= 5
)
SELECT w1, w2, c_ab::BIGINT AS c_ab, round(pmi, 6) + 0.0 AS pmi
FROM scored ORDER BY pmi DESC, w1, w2 LIMIT 50
"""


def q_incremental_dedup_docs(spark, sf_dir):
    """Incremental MinHash dedup (operators/dedup.py minhash_band_index
    + incremental_near_duplicates): the increment (a deterministic
    md5(doc_id)%5==0 ~20% slice) is deduped against the persisted band
    index of the rest — the shape a 10^12-doc crawl-ingest runs instead
    of re-deduping the corpus. The oracle recomputes the FULL batch
    pairs in DuckDB and restricts to pairs touching the increment; the
    pinned equivalence (test_dedup_incremental.py) says these must be
    identical."""
    from htm_streamer_spark.operators.dedup import (
        incremental_near_duplicates,
        minhash_band_index,
    )

    d = _t(spark, sf_dir, "documents")
    is_new = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 5
        == 0
    )
    new, old = d.filter(is_new), d.filter(~is_new)
    idx = minhash_band_index(old, jaccard_threshold=0.5, method="md5")
    pairs = incremental_near_duplicates(
        new, idx, d, jaccard_threshold=0.5, method="md5"
    )
    return pairs.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


SQL_INCREMENTAL_DEDUP = f"""
SELECT doc_a, doc_b, jaccard FROM ({SQL_MINHASH_PAIRS}) q
WHERE ('0x'||substr(md5(doc_a::VARCHAR),1,8))::BIGINT % 5 = 0
   OR ('0x'||substr(md5(doc_b::VARCHAR),1,8))::BIGINT % 5 = 0
"""



def q_cusum_events(spark, sf_dir):
    """Per-event_type CUSUM change-point statistic over the value
    series (operators/stattests.py cusum_changepoint): the
    retrospective mean-shift member of the drift family — PSI/KL/W1
    compare two pre-chosen epochs, CUSUM locates the shift without
    being told the split. Stat is the Brownian-bridge-normalized
    max |S_k|; cp_ts is the earliest timestamp attaining it. One
    groupBy(event_type, ts) shuffle; windows run on the distinct-ts
    frame."""
    from htm_streamer_spark.operators.stattests import cusum_changepoint

    e = _t(spark, sf_dir, "events")
    return cusum_changepoint(e, "event_type", "ts", "value")


SQL_CUSUM = """
WITH per AS (
  SELECT event_type, ts, sum(value) AS s, sum(value * value) AS s2,
         count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
st AS (
  SELECT event_type, sum(c)::BIGINT AS n, sum(s) AS sv, sum(s2) AS sv2
  FROM per GROUP BY 1
),
dev AS (
  SELECT p.event_type, p.ts, p.s - p.c * (st.sv / st.n) AS d, st.n,
         sqrt(greatest(st.sv2 / st.n - (st.sv / st.n) * (st.sv / st.n),
                       0.0)) AS sigma
  FROM per p JOIN st USING (event_type)
),
cs AS (
  SELECT event_type, ts, n,
         CASE WHEN sigma > 0 THEN
           round(abs(sum(d) OVER (PARTITION BY event_type ORDER BY ts))
                 / (sigma * sqrt(n)) + 1e-9, 6)
         ELSE 0.0 END AS stat
  FROM dev
),
m AS (SELECT event_type, max(stat) AS cusum_stat FROM cs GROUP BY 1)
SELECT cs.event_type, min(cs.n)::BIGINT AS n,
       m.cusum_stat + 0.0 AS cusum_stat, min(cs.ts) AS cp_ts
FROM cs JOIN m ON cs.event_type = m.event_type AND cs.stat = m.cusum_stat
GROUP BY 1, 3
"""


def q_ttr_docs(spark, sf_dir):
    """Per-source type-token ratio + Herdan's C (operators/lm.py
    lexical_diversity): the lexical-collapse detector — a source whose
    pages degenerate into boilerplate keeps volume while vocabulary
    flatlines. Two map-side-partial shuffles, vocabulary-deduped rows
    in the second."""
    from htm_streamer_spark.operators.lm import lexical_diversity

    d = _t(spark, sf_dir, "documents")
    return lexical_diversity(d, "source")


SQL_TTR = r"""
WITH toks AS (
  SELECT source, t.term
  FROM documents,
       LATERAL (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term) t
  WHERE t.term <> ''
),
agg AS (
  SELECT source, count(*)::BIGINT AS n_tokens,
         count(DISTINCT term)::BIGINT AS n_types
  FROM toks GROUP BY 1
)
SELECT source, n_tokens, n_types,
       round(n_types::DOUBLE / n_tokens + 1e-9, 6) + 0.0 AS ttr,
       CASE WHEN n_tokens > 1 THEN
         round(ln(n_types::DOUBLE) / ln(n_tokens::DOUBLE) + 1e-9, 6) + 0.0
       END AS herdan_c
FROM agg
"""


def q_zipf_docs(spark, sf_dir):
    """Corpus Zipf-law conformance (operators/lm.py zipf_fit): OLS of
    ln(frequency) on ln(rank) over the top-128 terms — natural text
    sits near slope -1; template farms and tokenizer breakage bend the
    curve. One tokenizing scan; the fit aggregates 128 rows."""
    from htm_streamer_spark.operators.lm import zipf_fit

    d = _t(spark, sf_dir, "documents")
    return zipf_fit(d, top_k=128)


SQL_ZIPF = r"""
WITH toks AS (
  SELECT t.term
  FROM documents,
       LATERAL (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term) t
  WHERE t.term <> ''
),
vocab AS (SELECT term, count(*)::BIGINT AS ctf FROM toks GROUP BY 1),
rk AS (
  SELECT ln(row_number() OVER (ORDER BY ctf DESC, term ASC)::DOUBLE) AS x,
         ln(ctf::DOUBLE) AS y, ctf, term
  FROM vocab
  ORDER BY ctf DESC, term ASC LIMIT 128
),
m AS (
  SELECT count(*)::BIGINT AS n_terms, avg(x) AS mx, avg(y) AS my,
         avg(x * y) AS mxy, avg(x * x) AS mxx, avg(y * y) AS myy
  FROM rk
)
SELECT n_terms,
       round((mxy - mx * my) / (mxx - mx * mx) + 1e-9, 6) + 0.0 AS slope,
       round(my - (mxy - mx * my) / (mxx - mx * mx) * mx + 1e-9, 6) + 0.0
         AS intercept,
       CASE WHEN (myy - my * my) > 0 THEN
         round((mxy - mx * my) * (mxy - mx * my)
               / ((mxx - mx * mx) * (myy - my * my)) + 1e-9, 6) + 0.0
       END AS r2
FROM m
"""



def q_gini_events(spark, sf_dir):
    """Per-event_type Gini coefficient of per-user event volume
    (operators/stattests.py gini_concentration): the skew meter behind
    every salting decision — a partition whose key concentration jumps
    gets flagged before it melts a shuffle. One fact shuffle; rank
    window on the unit-weight frame."""
    from htm_streamer_spark.operators.stattests import gini_concentration

    e = _t(spark, sf_dir, "events")
    return gini_concentration(e, "event_type", "user_id")


SQL_GINI = """
WITH per AS (
  SELECT event_type, user_id, count(*)::BIGINT AS w
  FROM events GROUP BY 1, 2
),
rk AS (
  SELECT event_type, w,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY w ASC, user_id ASC) AS i
  FROM per
)
SELECT event_type, count(*)::BIGINT AS n_units, sum(w)::BIGINT AS total,
       round(2.0 * sum(i * w) / (count(*) * sum(w))
             - (count(*) + 1.0) / count(*) + 1e-9, 6) + 0.0 AS gini
FROM rk GROUP BY 1
"""


def q_acf_events(spark, sf_dir):
    """Per-event_type autocorrelation (lags 1..5) of the dense hourly
    event-count series (operators/stattests.py acf_bucket_counts): the
    arrival-process member of the drift family — missing hours count 0
    so ingest gaps shift the ACF instead of being silently skipped.
    One count shuffle; grid + lags on the metadata-sized bucket frame,
    all lags from one window pass."""
    from htm_streamer_spark.operators.stattests import acf_bucket_counts

    e = _t(spark, sf_dir, "events")
    out = acf_bucket_counts(e, "event_type", "ts", bucket="hour", max_lag=5)
    return out.select(
        "event_type", F.col("lag").cast("long").alias("lag"), "acf"
    )


SQL_ACF = """
WITH cnt AS (
  SELECT event_type, date_trunc('hour', ts) AS b, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
span AS (SELECT event_type, min(b) AS lo, max(b) AS hi FROM cnt GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(lo, hi, interval '1 hour')) AS b
  FROM span
),
dense AS (
  SELECT grid.event_type, grid.b, coalesce(cnt.c, 0)::DOUBLE AS c
  FROM grid LEFT JOIN cnt ON cnt.event_type = grid.event_type AND cnt.b = grid.b
),
m AS (SELECT event_type, avg(c) AS mu FROM dense GROUP BY 1),
dev AS (
  SELECT dense.event_type, b, c - mu AS d
  FROM dense JOIN m ON m.event_type = dense.event_type
),
l AS (
  SELECT event_type, d,
         lag(d, 1) OVER w AS d1, lag(d, 2) OVER w AS d2,
         lag(d, 3) OVER w AS d3, lag(d, 4) OVER w AS d4,
         lag(d, 5) OVER w AS d5
  FROM dev WINDOW w AS (PARTITION BY event_type ORDER BY b)
),
a AS (
  SELECT event_type, sum(d * d) AS dn,
         sum(d * d1) AS s1, sum(d * d2) AS s2, sum(d * d3) AS s3,
         sum(d * d4) AS s4, sum(d * d5) AS s5
  FROM l GROUP BY 1
)
SELECT event_type, lag::BIGINT AS lag,
       CASE WHEN dn > 0 THEN round(s / dn + 1e-9, 6) + 0.0 END AS acf
FROM (
  SELECT event_type, 1 AS lag, s1 AS s, dn FROM a UNION ALL
  SELECT event_type, 2, s2, dn FROM a UNION ALL
  SELECT event_type, 3, s3, dn FROM a UNION ALL
  SELECT event_type, 4, s4, dn FROM a UNION ALL
  SELECT event_type, 5, s5, dn FROM a
)
"""


def q_pacf_events(spark, sf_dir):
    """Per-event_type PARTIAL autocorrelation (lags 1..5) of the dense
    hourly count series via Durbin-Levinson (operators/stattests.py
    pacf_durbin_levinson): identifies the AR order of the arrival
    process where the raw ACF only decays. One fact shuffle (shared
    with acf_events); the recursion is stepwise JVM projections on the
    |groups|-row wide frame, no UDF."""
    from htm_streamer_spark.operators.stattests import pacf_durbin_levinson

    e = _t(spark, sf_dir, "events")
    return pacf_durbin_levinson(
        e, "event_type", "ts", bucket="hour", max_lag=5
    )


# Durbin-Levinson as chained CTEs over the SAME rounded ACF values the
# Spark side consumes (both engines round r_k to 6 dp first, then run
# an identical left-associated recursion, so the doubles agree bit-for
# -bit before the final 6-dp round).
SQL_PACF = """
WITH cnt AS (
  SELECT event_type, date_trunc('hour', ts) AS b, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
span AS (SELECT event_type, min(b) AS lo, max(b) AS hi FROM cnt GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(lo, hi, interval '1 hour')) AS b
  FROM span
),
dense AS (
  SELECT grid.event_type, grid.b, coalesce(cnt.c, 0)::DOUBLE AS c
  FROM grid LEFT JOIN cnt ON cnt.event_type = grid.event_type AND cnt.b = grid.b
),
m AS (SELECT event_type, avg(c) AS mu FROM dense GROUP BY 1),
dev AS (
  SELECT dense.event_type, b, c - mu AS d
  FROM dense JOIN m ON m.event_type = dense.event_type
),
l AS (
  SELECT event_type, d,
         lag(d, 1) OVER w AS d1, lag(d, 2) OVER w AS d2,
         lag(d, 3) OVER w AS d3, lag(d, 4) OVER w AS d4,
         lag(d, 5) OVER w AS d5
  FROM dev WINDOW w AS (PARTITION BY event_type ORDER BY b)
),
a AS (
  SELECT event_type, sum(d * d) AS dn,
         sum(d * d1) AS s1, sum(d * d2) AS s2, sum(d * d3) AS s3,
         sum(d * d4) AS s4, sum(d * d5) AS s5
  FROM l GROUP BY 1
),
r AS (
  SELECT event_type,
         CASE WHEN dn > 0 THEN round(s1 / dn + 1e-9, 6) + 0.0 END AS r1,
         CASE WHEN dn > 0 THEN round(s2 / dn + 1e-9, 6) + 0.0 END AS r2,
         CASE WHEN dn > 0 THEN round(s3 / dn + 1e-9, 6) + 0.0 END AS r3,
         CASE WHEN dn > 0 THEN round(s4 / dn + 1e-9, 6) + 0.0 END AS r4,
         CASE WHEN dn > 0 THEN round(s5 / dn + 1e-9, 6) + 0.0 END AS r5
  FROM a
),
k1 AS (SELECT *, r1 AS p1_1, 1.0 - r1 * r1 AS v1 FROM r),
k2a AS (
  SELECT *, CASE WHEN abs(v1) > 1e-12 THEN (r2 - p1_1 * r1) / v1 END AS p2_2
  FROM k1
),
k2 AS (
  SELECT *, p1_1 - p2_2 * p1_1 AS p2_1,
         v1 * (1.0 - p2_2 * p2_2) AS v2
  FROM k2a
),
k3a AS (
  SELECT *, CASE WHEN abs(v2) > 1e-12
                 THEN (r3 - p2_1 * r2 - p2_2 * r1) / v2 END AS p3_3
  FROM k2
),
k3 AS (
  SELECT *, p2_1 - p3_3 * p2_2 AS p3_1, p2_2 - p3_3 * p2_1 AS p3_2,
         v2 * (1.0 - p3_3 * p3_3) AS v3
  FROM k3a
),
k4a AS (
  SELECT *, CASE WHEN abs(v3) > 1e-12
                 THEN (r4 - p3_1 * r3 - p3_2 * r2 - p3_3 * r1) / v3
            END AS p4_4
  FROM k3
),
k4 AS (
  SELECT *, p3_1 - p4_4 * p3_3 AS p4_1, p3_2 - p4_4 * p3_2 AS p4_2,
         p3_3 - p4_4 * p3_1 AS p4_3,
         v3 * (1.0 - p4_4 * p4_4) AS v4
  FROM k4a
),
k5a AS (
  SELECT *, CASE WHEN abs(v4) > 1e-12
                 THEN (r5 - p4_1 * r4 - p4_2 * r3 - p4_3 * r2 - p4_4 * r1) / v4
            END AS p5_5
  FROM k4
)
SELECT event_type, lag::BIGINT AS lag, round(p + 1e-9, 6) + 0.0 AS pacf
FROM (
  SELECT event_type, 1 AS lag, p1_1 AS p FROM k5a UNION ALL
  SELECT event_type, 2, p2_2 FROM k5a UNION ALL
  SELECT event_type, 3, p3_3 FROM k5a UNION ALL
  SELECT event_type, 4, p4_4 FROM k5a UNION ALL
  SELECT event_type, 5, p5_5 FROM k5a
)
"""


# shared CTE prefix for the two seasonal queries: dense hourly counts
# annotated with (dow, hod); dow is days-since-Monday-anchor mod 7
# because DuckDB's dayofweek is Sunday=0 while Spark's is Sunday=1.
_SQL_SEASONAL_CELLS = """
WITH cnt AS (
  SELECT date_trunc('hour', ts) AS b, count(*)::BIGINT AS c
  FROM events GROUP BY 1
),
span AS (SELECT min(b) AS lo, max(b) AS hi FROM cnt),
grid AS (
  SELECT unnest(generate_series(lo, hi, interval '1 hour')) AS b FROM span
),
dense AS (
  SELECT grid.b, coalesce(cnt.c, 0)::DOUBLE AS c
  FROM grid LEFT JOIN cnt ON cnt.b = grid.b
),
cells AS (
  SELECT b,
         (((date_trunc('day', b)::DATE - DATE '2024-01-01') % 7 + 7) % 7)::BIGINT AS dow,
         extract(hour FROM b)::BIGINT AS hod,
         c
  FROM dense
)
"""


def q_seasonal_profile_events(spark, sf_dir):
    """Day-of-week x hour-of-day expected-volume profile of the dense
    hourly arrival series (operators/stattests.py seasonal_profile):
    the 168-cell weekly baseline seasonal anomaly detection conditions
    on. One fact shuffle; the profile aggregate runs on the dense
    bucket frame (gap-as-zero)."""
    from htm_streamer_spark.operators.stattests import seasonal_profile

    e = _t(spark, sf_dir, "events")
    return seasonal_profile(e, "ts")


SQL_SEASONAL_PROFILE = (
    _SQL_SEASONAL_CELLS
    + """
SELECT dow, hod, count(*)::BIGINT AS n_buckets,
       round(avg(c) + 1e-9, 6) + 0.0 AS mu,
       round(sqrt(var_pop(c)) + 1e-9, 6) + 0.0 AS sd
FROM cells GROUP BY 1, 2
"""
)


def q_seasonal_anomaly_events(spark, sf_dir):
    """Hourly buckets anomalous GIVEN their seasonal (dow x hod) cell
    (operators/stattests.py seasonal_anomalies): |z| >= 1.5 against the
    cell's own mean/sd — the seasonally-adjusted volume alarm that does
    not fire on every weekend trough. Profile broadcasts back onto the
    dense bucket frame; membership decided on the rounded z both
    engines compute identically."""
    from htm_streamer_spark.operators.stattests import seasonal_anomalies

    e = _t(spark, sf_dir, "events")
    return seasonal_anomalies(e, "ts", threshold=1.5)


SQL_SEASONAL_ANOMALY = (
    _SQL_SEASONAL_CELLS
    + """,
prof AS (
  SELECT dow, hod, avg(c) AS mu, sqrt(var_pop(c)) AS sd
  FROM cells GROUP BY 1, 2
),
scored AS (
  SELECT cells.b, cells.dow, cells.hod, cells.c::BIGINT AS c,
         CASE WHEN sd > 0
              THEN round((cells.c - mu) / sd + 1e-9, 6) + 0.0 END AS z
  FROM cells JOIN prof USING (dow, hod)
)
SELECT b, dow, hod, c, z FROM scored
WHERE z IS NOT NULL AND abs(z) >= 1.5
"""
)


def q_energy_drift_events(spark, sf_dir):
    """Per-event_type two-sample ENERGY distance on value between the
    deterministic even/odd event_id halves (operators/stattests.py
    energy_distance): the omnibus drift test — zero iff the halves are
    equidistributed, sensitive to location AND scale AND shape where
    KS sees only the max ECDF gap. O(N log N) via rank-coefficient
    sums on one union-sorted pass; tie-invariant by construction."""
    from htm_streamer_spark.operators.stattests import energy_distance

    e = _t(spark, sf_dir, "events").select(
        "event_type", "value", (F.col("event_id") % 2).alias("half")
    )
    return energy_distance(e, "event_type", "value", "half", a_value=0)


SQL_ENERGY_DRIFT = """
WITH s AS (
  SELECT event_type AS g, value AS v,
         CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS ia
  FROM events WHERE value IS NOT NULL
),
r AS (
  SELECT g, v, ia,
         sum(1) OVER w AS rall,
         sum(ia) OVER w AS ra,
         sum(1 - ia) OVER w AS rb,
         count(*) OVER (PARTITION BY g) AS nn,
         sum(ia) OVER (PARTITION BY g) AS na,
         sum(1 - ia) OVER (PARTITION BY g) AS nb
  FROM s WINDOW w AS (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING)
),
a AS (
  SELECT g, max(na) AS na, max(nb) AS nb,
         sum((2.0 * rall - nn - 1) * v) AS t,
         sum(CASE WHEN ia = 1 THEN (2.0 * ra - na - 1) * v END) AS ba,
         sum(CASE WHEN ia = 0 THEN (2.0 * rb - nb - 1) * v END) AS bb
  FROM r GROUP BY g
)
SELECT g AS event_type, na::BIGINT AS n_a, nb::BIGINT AS n_b,
       CASE WHEN na > 0 AND nb > 0 THEN
         round(2.0 * (t - ba - bb) / (1.0 * na * nb)
               - 2.0 * ba / (1.0 * na * na)
               - 2.0 * bb / (1.0 * nb * nb) + 1e-9, 6) + 0.0
       END AS energy
FROM a
"""


def q_hurst_events(spark, sf_dir):
    """Per-event_type Hurst exponent of the dense hourly count series
    via rescaled-range analysis at scales 8/16/32/64
    (operators/stattests.py hurst_rescaled_range): long-memory
    detection — H≈0.5 iid arrivals, H→1 bursts clustering at every
    timescale. One fact shuffle; per-scale passes on the persisted
    bucket frame."""
    from htm_streamer_spark.operators.stattests import hurst_rescaled_range

    e = _t(spark, sf_dir, "events")
    return hurst_rescaled_range(e, "event_type", "ts", bucket="hour")


def _hurst_scale_sql(n: int) -> str:
    return f"""
w{n} AS (
  SELECT g, i // {n} AS w, i, x,
         count(*) OVER (PARTITION BY g, i // {n}) AS cnt,
         avg(x) OVER (PARTITION BY g, i // {n}) AS mu
  FROM base
),
c{n} AS (
  SELECT g, w, cnt, x,
         sum(x - mu) OVER (
           PARTITION BY g, w ORDER BY i ROWS UNBOUNDED PRECEDING
         ) AS cum
  FROM w{n}
),
v{n} AS (
  SELECT g, w, max(cnt) AS cnt, max(cum) - min(cum) AS r,
         sqrt(var_pop(x)) AS s
  FROM c{n} GROUP BY g, w
),
m{n} AS (
  SELECT g, {n}.0 AS n,
         avg(CASE WHEN cnt = {n} AND s > 0 THEN r / s END) AS mean_rs
  FROM v{n} GROUP BY g
)"""


SQL_HURST = (
    """
WITH cnt AS (
  SELECT event_type, date_trunc('hour', ts) AS b, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
span AS (SELECT event_type, min(b) AS lo, max(b) AS hi FROM cnt GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(lo, hi, interval '1 hour')) AS b
  FROM span
),
dense AS (
  SELECT grid.event_type, grid.b, coalesce(cnt.c, 0)::DOUBLE AS c
  FROM grid LEFT JOIN cnt ON cnt.event_type = grid.event_type AND cnt.b = grid.b
),
base AS (
  SELECT event_type AS g,
         row_number() OVER (PARTITION BY event_type ORDER BY b) - 1 AS i,
         c AS x
  FROM dense
),"""
    + ",".join(_hurst_scale_sql(n) for n in (8, 16, 32, 64))
    + """,
pts AS (
  SELECT g, ln(n) AS lx, ln(mean_rs) AS ly FROM (
    SELECT * FROM m8 UNION ALL SELECT * FROM m16 UNION ALL
    SELECT * FROM m32 UNION ALL SELECT * FROM m64
  ) WHERE mean_rs > 0
),
a AS (
  SELECT g, count(*)::BIGINT AS n_scales,
         sum(lx) AS sx, sum(ly) AS sy,
         sum(lx * ly) AS sxy, sum(lx * lx) AS sxx
  FROM pts GROUP BY g
)
SELECT g AS event_type, n_scales,
       CASE WHEN n_scales >= 2
                 AND abs(1.0 * n_scales * sxx - sx * sx) > 1e-12
            THEN round((1.0 * n_scales * sxy - sx * sy)
                       / (1.0 * n_scales * sxx - sx * sx) + 1e-9, 6) + 0.0
       END AS hurst
FROM a
"""
)


def q_heaps_docs(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit (operators/lm.py heaps_fit):
    the dynamic twin of zipf_docs — V = K*N^beta over the corpus'
    growth curve, computed distributed via the first-occurrence trick
    (min hash-bucket per term), never a sequential scan. One
    tokenizing scan, one vocabulary-sized shuffle; the cumsum + OLS
    run on a 32-row frame."""
    from htm_streamer_spark.operators.lm import heaps_fit

    d = _t(spark, sf_dir, "documents")
    return heaps_fit(d, n_buckets=32)


SQL_HEAPS = r"""
WITH toks AS (
  SELECT ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT
           % 2147483647 % 32 AS b,
         t.term
  FROM documents,
       LATERAL (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term) t
  WHERE t.term <> ''
),
fs AS (SELECT term, min(b) AS fb FROM toks GROUP BY 1),
nt AS (SELECT fb AS b, count(*)::BIGINT AS n_new FROM fs GROUP BY 1),
tk AS (SELECT b, count(*)::BIGINT AS n_tok FROM toks GROUP BY 1),
grid AS (SELECT unnest(generate_series(0, 31)) AS b),
curve AS (
  SELECT g.b, coalesce(tk.n_tok, 0) AS t, coalesce(nt.n_new, 0) AS v
  FROM grid g LEFT JOIN tk ON tk.b = g.b LEFT JOIN nt ON nt.b = g.b
),
cum AS (
  SELECT sum(t) OVER (ORDER BY b) AS n, sum(v) OVER (ORDER BY b) AS vv
  FROM curve
),
xy AS (
  SELECT ln(n::DOUBLE) AS x, ln(vv::DOUBLE) AS y
  FROM cum WHERE n > 0 AND vv > 0
),
m AS (
  SELECT count(*)::BIGINT AS n_points, avg(x) AS mx, avg(y) AS my,
         avg(x*y) AS mxy, avg(x*x) AS mxx, avg(y*y) AS myy
  FROM xy
)
SELECT n_points,
  CASE WHEN (mxx - mx*mx) > 0 THEN
    round((mxy - mx*my) / (mxx - mx*mx) + 1e-9, 6) + 0.0 END AS beta,
  CASE WHEN (mxx - mx*mx) > 0 THEN
    round(my - (mxy - mx*my) / (mxx - mx*mx) * mx + 1e-9, 6) + 0.0 END AS ln_k,
  CASE WHEN (mxx - mx*mx) > 0 AND (myy - my*my) > 0 THEN
    round((mxy - mx*my) * (mxy - mx*my)
          / ((mxx - mx*mx) * (myy - my*my)) + 1e-9, 6) + 0.0 END AS r2
FROM m
"""


def q_dominant_period_events(spark, sf_dir):
    """Per-event_type dominant period of the dense hourly count series
    via the discrete periodogram (operators/stattests.py
    dominant_period): acf_events tests fixed short lags and
    diurnal_events assumes 24 h — this DISCOVERS the cadence (harmonic
    argmax of DFT power, k = 1..8, sub-Nyquist, Parseval-exact
    variance fraction). One fact shuffle; all 16 trig sums come out of
    one aggregation over the dense metadata-sized bucket frame."""
    from htm_streamer_spark.operators.stattests import dominant_period

    e = _t(spark, sf_dir, "events")
    return dominant_period(e, "event_type", "ts", bucket="hour", max_k=8)


# the 2*pi*k literals are Python-repr doubles, bit-identical to the
# F.lit(two_pi * k) constants the Spark side folds in
_DP_LITS = {
    1: "6.283185307179586",
    2: "12.566370614359172",
    3: "18.84955592153876",
    4: "25.132741228718345",
    5: "31.41592653589793",
    6: "37.69911184307752",
    7: "43.982297150257104",
    8: "50.26548245743669",
}
SQL_DOMINANT_PERIOD = (
    """
WITH cnt AS (
  SELECT event_type, date_trunc('hour', ts) AS b, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
span AS (SELECT event_type, min(b) AS lo, max(b) AS hi FROM cnt GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(lo, hi, interval '1 hour')) AS b
  FROM span
),
dense AS (
  SELECT grid.event_type, grid.b, coalesce(cnt.c, 0)::DOUBLE AS c
  FROM grid LEFT JOIN cnt ON cnt.event_type = grid.event_type AND cnt.b = grid.b
),
idx AS (
  SELECT event_type,
         (row_number() OVER (PARTITION BY event_type ORDER BY b) - 1)::DOUBLE
           AS t,
         count(*) OVER (PARTITION BY event_type)::DOUBLE AS n,
         c - avg(c) OVER (PARTITION BY event_type) AS d
  FROM dense
),
agg AS (
  SELECT event_type, max(n) AS nn, sum(d * d) AS ss,
"""
    + ",\n".join(
        f"         sum(d * cos(t * {lit} / n)) AS sa{k},\n"
        f"         sum(d * sin(t * {lit} / n)) AS sb{k}"
        for k, lit in _DP_LITS.items()
    )
    + """
  FROM idx GROUP BY 1
),
stacked AS (
"""
    + "\n  UNION ALL\n".join(
        f"  SELECT event_type, nn, ss, {k} AS k, sa{k} AS sa, sb{k} AS sb"
        " FROM agg"
        for k in _DP_LITS
    )
    + """
),
valid AS (
  SELECT event_type, nn, ss, k, (sa * sa + sb * sb) * 2.0 / nn AS pw
  FROM stacked WHERE ss > 0 AND k <= floor((nn - 1) / 2)
),
best AS (
  SELECT event_type, k, nn, ss, pw, row_number() OVER (
    PARTITION BY event_type ORDER BY round(pw + 1e-9, 6) DESC, k
  ) AS rn
  FROM valid
)
SELECT agg.event_type, agg.nn::BIGINT AS n_buckets,
       b2.k::BIGINT AS best_k,
       round(b2.nn / b2.k + 1e-9, 6) + 0.0 AS period_buckets,
       round(b2.pw + 1e-9, 6) + 0.0 AS "power",
       round(b2.pw / b2.ss + 1e-9, 6) + 0.0 AS power_frac
FROM agg LEFT JOIN (SELECT * FROM best WHERE rn = 1) b2
  ON b2.event_type = agg.event_type
"""
)


def q_ljung_box_events(spark, sf_dir):
    """Per-event_type Ljung-Box portmanteau whiteness test over lags
    1..5 of the dense hourly count series (operators/stattests.py
    ljung_box): collapses the ACF into one chi-square verdict — iid
    arrivals pass, any batch/cron/retry correlation structure fires.
    Q is computed from the 6-dp-rounded r_k (the PACF oracle contract)
    so both engines fold identical doubles. One fact shuffle."""
    from htm_streamer_spark.operators.stattests import ljung_box

    e = _t(spark, sf_dir, "events")
    return ljung_box(e, "event_type", "ts", bucket="hour", max_lag=5)


SQL_LJUNG_BOX = """
WITH cnt AS (
  SELECT event_type, date_trunc('hour', ts) AS b, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
span AS (SELECT event_type, min(b) AS lo, max(b) AS hi FROM cnt GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(lo, hi, interval '1 hour')) AS b
  FROM span
),
dense AS (
  SELECT grid.event_type, grid.b, coalesce(cnt.c, 0)::DOUBLE AS c
  FROM grid LEFT JOIN cnt ON cnt.event_type = grid.event_type AND cnt.b = grid.b
),
m AS (SELECT event_type, avg(c) AS mu FROM dense GROUP BY 1),
dev AS (
  SELECT dense.event_type, b, c - mu AS d
  FROM dense JOIN m ON m.event_type = dense.event_type
),
l AS (
  SELECT event_type, d,
         lag(d, 1) OVER w AS d1, lag(d, 2) OVER w AS d2,
         lag(d, 3) OVER w AS d3, lag(d, 4) OVER w AS d4,
         lag(d, 5) OVER w AS d5
  FROM dev WINDOW w AS (PARTITION BY event_type ORDER BY b)
),
a AS (
  SELECT event_type, count(*)::BIGINT AS nb, sum(d * d) AS dn,
         sum(d * d1) AS s1, sum(d * d2) AS s2, sum(d * d3) AS s3,
         sum(d * d4) AS s4, sum(d * d5) AS s5
  FROM l GROUP BY 1
),
r AS (
  SELECT event_type, nb, nb::DOUBLE AS nn,
         CASE WHEN dn > 0 THEN round(s1 / dn + 1e-9, 6) + 0.0 END AS r1,
         CASE WHEN dn > 0 THEN round(s2 / dn + 1e-9, 6) + 0.0 END AS r2,
         CASE WHEN dn > 0 THEN round(s3 / dn + 1e-9, 6) + 0.0 END AS r3,
         CASE WHEN dn > 0 THEN round(s4 / dn + 1e-9, 6) + 0.0 END AS r4,
         CASE WHEN dn > 0 THEN round(s5 / dn + 1e-9, 6) + 0.0 END AS r5
  FROM a
),
q AS (
  SELECT event_type, nb,
         CASE WHEN nb > 5 AND r1 IS NOT NULL THEN
           nn * (nn + 2.0) * (r1 * r1 / (nn - 1) + r2 * r2 / (nn - 2)
             + r3 * r3 / (nn - 3) + r4 * r4 / (nn - 4)
             + r5 * r5 / (nn - 5))
         END AS qv
  FROM r
)
SELECT event_type, nb AS n_buckets,
       round(qv + 1e-9, 6) + 0.0 AS q_stat,
       CASE WHEN qv IS NOT NULL THEN qv > 11.070497693516351 END AS lb_reject
FROM q
"""


def q_dispersion_events(spark, sf_dir):
    """Per-event_type index of dispersion (Fano factor) of the dense
    hourly count series with the Fisher-approximated chi-square
    over/under-dispersion verdict (operators/stattests.py
    dispersion_index): variance==mean is the Poisson signature; D>>1
    flags batch flushes / retry storms, D<<1 rate-limiting. Exact
    power-sum arithmetic — bit-identical across engines. One fact
    shuffle."""
    from htm_streamer_spark.operators.stattests import dispersion_index

    e = _t(spark, sf_dir, "events")
    return dispersion_index(e, "event_type", "ts", bucket="hour")


SQL_DISPERSION = """
WITH cnt AS (
  SELECT event_type, date_trunc('hour', ts) AS b, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
span AS (SELECT event_type, min(b) AS lo, max(b) AS hi FROM cnt GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(lo, hi, interval '1 hour')) AS b
  FROM span
),
dense AS (
  SELECT grid.event_type, grid.b, coalesce(cnt.c, 0)::DOUBLE AS c
  FROM grid LEFT JOIN cnt ON cnt.event_type = grid.event_type AND cnt.b = grid.b
),
a AS (
  SELECT event_type, count(*)::BIGINT AS nb,
         sum(c) AS s1, sum(c * c) AS s2
  FROM dense GROUP BY 1
),
f AS (
  SELECT event_type, nb, nb::DOUBLE AS nn, s1 / nb::DOUBLE AS mean,
         CASE WHEN nb > 1 THEN
           (s2 - nb::DOUBLE * (s1 / nb::DOUBLE) * (s1 / nb::DOUBLE))
             / (nb::DOUBLE - 1.0)
         END AS var
  FROM a
),
z AS (
  SELECT event_type, nb, mean,
         CASE WHEN mean > 0 THEN var / mean END AS fano,
         CASE WHEN (nn - 1.0) * (CASE WHEN mean > 0 THEN var / mean END) >= 0
              THEN sqrt(2.0 * ((nn - 1.0)
                     * (CASE WHEN mean > 0 THEN var / mean END)))
                   - sqrt(2.0 * (nn - 1.0) - 1.0)
         END AS zv
  FROM f
)
SELECT event_type, nb AS n_buckets,
       round(mean + 1e-9, 6) + 0.0 AS mean_rate,
       round(fano + 1e-9, 6) + 0.0 AS fano,
       round(zv + 1e-9, 6) + 0.0 AS z,
       CASE WHEN zv IS NULL THEN NULL
            WHEN zv > 1.959963984540054 THEN 'over'
            WHEN zv < -1.959963984540054 THEN 'under'
            ELSE 'poisson' END AS dispersion
FROM z
"""


def q_spectral_entropy_events(spark, sf_dir):
    """Per-event_type band-limited spectral entropy + Wiener flatness
    of the dense hourly count series over the k=1..8 sub-Nyquist
    periodogram (operators/stattests.py spectral_entropy):
    dominant_period names the winning cadence, this says whether the
    spectrum is a spike (one cycle), a few lines, or white noise.
    Shares the single-fact-shuffle periodogram core."""
    from htm_streamer_spark.operators.stattests import spectral_entropy

    e = _t(spark, sf_dir, "events")
    return spectral_entropy(e, "event_type", "ts", bucket="hour", max_k=8)


SQL_SPECTRAL_ENTROPY = (
    """
WITH cnt AS (
  SELECT event_type, date_trunc('hour', ts) AS b, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
span AS (SELECT event_type, min(b) AS lo, max(b) AS hi FROM cnt GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(lo, hi, interval '1 hour')) AS b
  FROM span
),
dense AS (
  SELECT grid.event_type, grid.b, coalesce(cnt.c, 0)::DOUBLE AS c
  FROM grid LEFT JOIN cnt ON cnt.event_type = grid.event_type AND cnt.b = grid.b
),
idx AS (
  SELECT event_type,
         (row_number() OVER (PARTITION BY event_type ORDER BY b) - 1)::DOUBLE
           AS t,
         count(*) OVER (PARTITION BY event_type)::DOUBLE AS n,
         c - avg(c) OVER (PARTITION BY event_type) AS d
  FROM dense
),
agg AS (
  SELECT event_type, max(n) AS nn, sum(d * d) AS ss,
"""
    + ",\n".join(
        f"         sum(d * cos(t * {lit} / n)) AS sa{k},\n"
        f"         sum(d * sin(t * {lit} / n)) AS sb{k}"
        for k, lit in _DP_LITS.items()
    )
    + """
  FROM idx GROUP BY 1
),
stacked AS (
"""
    + "\n  UNION ALL\n".join(
        f"  SELECT event_type, nn, ss, {k} AS k, sa{k} AS sa, sb{k} AS sb"
        " FROM agg"
        for k in _DP_LITS
    )
    + """
),
valid AS (
  SELECT event_type, nn, ss, k, (sa * sa + sb * sb) * 2.0 / nn AS pw
  FROM stacked WHERE ss > 0 AND k <= floor((nn - 1) / 2)
),
k0 AS (
  SELECT event_type, count(*)::BIGINT AS n_harmonics,
         count(CASE WHEN pw > 0 THEN 1 END)::BIGINT AS kk,
         sum(CASE WHEN pw > 0 THEN pw END) AS tot,
         sum(CASE WHEN pw > 0 THEN pw * ln(pw) END) AS plogp,
         sum(CASE WHEN pw > 0 THEN ln(pw) END) AS logsum
  FROM valid GROUP BY 1
)
SELECT agg.event_type, agg.nn::BIGINT AS n_buckets, k0.n_harmonics,
       CASE WHEN n_harmonics > 1 AND tot > 0 THEN
         round((ln(tot) - plogp / tot) / ln(n_harmonics::DOUBLE)
               + 1e-9, 6) + 0.0
       END AS spec_entropy,
       CASE WHEN tot > 0 AND kk = n_harmonics THEN
         round(exp(logsum / n_harmonics::DOUBLE)
                 / (tot / n_harmonics::DOUBLE) + 1e-9, 6) + 0.0
            WHEN tot > 0 THEN round(0.0 + 1e-9, 6) + 0.0
       END AS flatness
FROM agg LEFT JOIN k0 ON k0.event_type = agg.event_type
"""
)


def q_exp_gap_ks_events(spark, sf_dir):
    """Per-event_type Lilliefors-style KS test of the interarrival
    gaps (integer microseconds) against the exponential distribution
    with Stephens' modified statistic (operators/stattests.py
    exp_interarrival_ks): the memorylessness check — a strict
    heartbeat or batched feed rejects even when bucketed variance
    looks Poisson. One shuffle; gap tie-collapse reuses the group
    partitioning."""
    from htm_streamer_spark.operators.stattests import exp_interarrival_ks

    e = _t(spark, sf_dir, "events")
    return exp_interarrival_ks(e, "event_type", "ts")


SQL_EXP_GAP_KS = """
WITH gp AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY event_type ORDER BY ts
         ) AS gap
  FROM events
),
pv AS (
  SELECT event_type, gap, count(*)::BIGINT AS cnt
  FROM gp WHERE gap IS NOT NULL GROUP BY 1, 2
),
e AS (
  SELECT event_type, gap, cnt,
         sum(cnt) OVER (PARTITION BY event_type) AS ntot,
         sum(gap * cnt) OVER (PARTITION BY event_type) AS gsum,
         sum(cnt) OVER (
           PARTITION BY event_type ORDER BY gap ROWS UNBOUNDED PRECEDING
         ) AS cum
  FROM pv
),
f AS (
  SELECT event_type,
         ntot::DOUBLE AS n,
         gsum::DOUBLE / ntot::DOUBLE AS mu,
         cum::DOUBLE / ntot::DOUBLE AS fu,
         (cum - cnt)::DOUBLE / ntot::DOUBLE AS fl,
         CASE WHEN gsum::DOUBLE / ntot::DOUBLE > 0 THEN
           1.0 - exp(-(gap::DOUBLE) / (gsum::DOUBLE / ntot::DOUBLE))
         END AS fe
  FROM e
),
a AS (
  SELECT event_type, max(n)::BIGINT AS n_gaps, max(mu) AS mu,
         max(greatest(abs(fu - fe), abs(fl - fe))) AS d
  FROM f GROUP BY 1
),
s AS (
  SELECT event_type, n_gaps, mu, d,
         CASE WHEN d IS NOT NULL THEN
           (d - 0.2 / n_gaps::DOUBLE)
             * (sqrt(n_gaps::DOUBLE) + 0.26 + 0.5 / sqrt(n_gaps::DOUBLE))
         END AS stat
  FROM a
)
SELECT event_type, n_gaps,
       round(mu + 1e-9, 6) + 0.0 AS mean_gap_us,
       round(d + 1e-9, 6) + 0.0 AS ks_d,
       round(stat + 1e-9, 6) + 0.0 AS ks_stat,
       CASE WHEN stat IS NOT NULL THEN stat > 1.094 END AS exp_reject
FROM s
"""


def q_kruskal_wallis_docs(spark, sf_dir):
    """Kruskal-Wallis H per lang across the k=|sources| classes on
    n_chars (operators/rankstats.py kruskal_wallis): the k-sample
    location test — one verdict instead of k(k-1)/2 pairwise MWUs.
    Tie-corrected pooled midranks, chi-square ladder verdict at
    df = k-1. One exchange; both reductions subset-key clustered."""
    from htm_streamer_spark.operators.rankstats import kruskal_wallis

    d = _t(spark, sf_dir, "documents")
    return kruskal_wallis(d, "lang", "n_chars", "source")


def _chi2_case_sql(df_expr: str) -> str:
    """CASE ladder mapping ``df_expr`` (degrees of freedom) to the
    chi-square 95% critical value — the same literals the Spark side
    folds from operators/stattests._CHI2_95."""
    from htm_streamer_spark.operators.stattests import _CHI2_95

    arms = " ".join(
        f"WHEN {d} THEN {v!r}" for d, v in _CHI2_95.items()
    )
    return f"(CASE {df_expr} {arms} END)"


SQL_KRUSKAL_WALLIS = f"""
WITH ranked AS (
  SELECT lang, source AS cls,
         rank() OVER (PARTITION BY lang ORDER BY n_chars)
           + (count(*) OVER (PARTITION BY lang, n_chars) - 1) / 2.0 AS r,
         count(*) OVER (PARTITION BY lang, n_chars) AS t
  FROM documents WHERE n_chars IS NOT NULL
),
pc AS (
  SELECT lang, cls, count(*)::BIGINT AS nj, sum(r) AS rj,
         sum(t::DOUBLE * t - 1.0) AS ties
  FROM ranked GROUP BY 1, 2
),
a AS (
  SELECT lang, sum(nj)::BIGINT AS n, count(*)::BIGINT AS k,
         sum(rj * rj / nj) AS rsum, sum(ties) AS ts
  FROM pc GROUP BY 1
),
h AS (
  SELECT lang, n, k,
    CASE WHEN k > 1
          AND (1.0 - ts / (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE)) > 0
         THEN (12.0 / (n::DOUBLE * (n::DOUBLE + 1.0)) * rsum
                 - 3.0 * (n::DOUBLE + 1.0))
              / (1.0 - ts
                   / (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE))
    END AS hc
  FROM h0
)
SELECT lang, n, k,
       round(hc + 1e-9, 6) + 0.0 AS h_stat,
       CASE WHEN hc IS NOT NULL
             AND {_chi2_case_sql("k - 1")} IS NOT NULL
            THEN hc > {_chi2_case_sql("k - 1")} END AS kw_reject
FROM h
""".replace("FROM h0", "FROM a")


def q_anderson_darling_docs(spark, sf_dir):
    """k-sample Anderson-Darling per lang across sources on n_chars
    (operators/rankstats.py anderson_darling_k, Scholz-Stephens 1987
    midrank form): the k-sample OMNIBUS member — KW sees only location
    and Brown-Forsythe only scale; AD weights the ECDF discrepancy by
    1/(F(1-F)) so tail drift between sources counts. Exact null
    moments (harmonic sums from a chunked sequence — metadata-scale),
    5% verdict on the interpolated critical surface. One fact shuffle;
    the L x k grid is collapsed-frame-sized."""
    from htm_streamer_spark.operators.rankstats import anderson_darling_k

    d = _t(spark, sf_dir, "documents")
    return anderson_darling_k(d, "lang", "n_chars", "source")


SQL_ANDERSON_DARLING = """
WITH base AS (
  SELECT lang AS g, source AS cls, n_chars::DOUBLE AS v
  FROM documents WHERE n_chars IS NOT NULL
),
collapsed AS (
  SELECT g, cls, v, count(*)::DOUBLE AS f FROM base GROUP BY 1, 2, 3
),
pooled AS (SELECT g, v, sum(f) AS l FROM collapsed GROUP BY 1, 2),
pooledb AS (
  SELECT g, v, l,
         sum(l) OVER (PARTITION BY g ORDER BY v
                      ROWS UNBOUNDED PRECEDING) - l / 2.0 AS bb
  FROM pooled
),
gstats AS (
  SELECT g, sum(l) AS nn, count(*)::BIGINT AS nd FROM pooled GROUP BY 1
),
classes AS (SELECT g, cls, sum(f) AS nj FROM collapsed GROUP BY 1, 2),
grid AS (
  SELECT p.g, c.cls, p.v, p.l, p.bb, c.nj, coalesce(cc.f, 0.0) AS f
  FROM pooledb p JOIN classes c USING (g)
  LEFT JOIN collapsed cc ON cc.g = p.g AND cc.cls = c.cls AND cc.v = p.v
),
mgrid AS (
  SELECT *, sum(f) OVER (PARTITION BY g, cls ORDER BY v
                         ROWS UNBOUNDED PRECEDING) - f / 2.0 AS m
  FROM grid
),
innr AS (
  SELECT mg.g, mg.cls, mg.nj, s.nn, s.nd,
         CASE WHEN (mg.bb * (s.nn - mg.bb) - s.nn * mg.l / 4.0) > 0
              THEN (mg.l / s.nn) * pow(s.nn * mg.m - mg.nj * mg.bb, 2)
                   / (mg.bb * (s.nn - mg.bb) - s.nn * mg.l / 4.0) END AS t
  FROM mgrid mg JOIN gstats s USING (g)
),
per_cls AS (
  SELECT g, cls, min(nn) AS nn, min(nd) AS nd,
         sum(t) / min(nj) AS acls, 1.0 / min(nj) AS hj
  FROM innr GROUP BY 1, 2
),
stats AS (
  SELECT g, min(nn)::BIGINT AS n, count(*)::BIGINT AS k, min(nd) AS nd,
         sum(acls) AS a2raw, sum(hj) AS hsum
  FROM per_cls GROUP BY 1
),
seq AS (
  SELECT s.g, s.n, unnest(generate_series(1, s.n - 1)) AS i
  FROM stats s WHERE s.n >= 4
),
cumh AS (
  SELECT g, n, i,
         sum(1.0 / i) OVER (PARTITION BY g ORDER BY i
                            ROWS UNBOUNDED PRECEDING) AS hi,
         sum(1.0 / i) OVER (PARTITION BY g) AS htot
  FROM seq
),
harm AS (
  SELECT g, min(htot) AS h,
         coalesce(sum(CASE WHEN i <= n - 2
                           THEN (htot - hi) / (n - i) END), 0.0) AS gsum
  FROM cumh GROUP BY 1
),
fin AS (
  SELECT st.g, st.n, st.k, st.nd,
         (st.n - 1.0) / st.n * st.a2raw AS a2,
         (4.0 * ha.gsum - 6.0) * (st.k - 1.0)
           + (10.0 - 6.0 * ha.gsum) * st.hsum AS ca,
         (2.0 * ha.gsum - 4.0) * st.k * st.k + 8.0 * ha.h * st.k
           + (2.0 * ha.gsum - 14.0 * ha.h - 4.0) * st.hsum
           - 8.0 * ha.h + 4.0 * ha.gsum - 6.0 AS cb,
         (6.0 * ha.h + 2.0 * ha.gsum - 2.0) * st.k * st.k
           + (4.0 * ha.h - 4.0 * ha.gsum + 6.0) * st.k
           + (2.0 * ha.h - 6.0) * st.hsum + 4.0 * ha.h AS cc,
         (2.0 * ha.h + 6.0) * st.k * st.k - 4.0 * ha.h * st.k AS cd
  FROM stats st LEFT JOIN harm ha USING (g)
),
fv AS (
  SELECT *,
         (ca * n * n * n + cb * n * n + cc * n + cd)
           / ((n - 1.0) * (n - 2.0) * (n - 3.0)) AS var_s
  FROM fin
),
ok AS (
  SELECT *,
         (k >= 2 AND nd >= 2 AND n >= 4 AND var_s > 0) AS is_ok,
         CASE WHEN k >= 2 AND nd >= 2 AND n >= 4 AND var_s > 0
              THEN (a2 - (k - 1.0)) / sqrt(var_s) END AS tstat
  FROM fv
)
SELECT g AS lang, n, k,
       round(CASE WHEN is_ok THEN a2 END + 1e-9, 6) + 0.0 AS a2_stat,
       round(tstat + 1e-9, 6) + 0.0 AS t_stat,
       CASE WHEN tstat IS NOT NULL
            THEN tstat > 1.645 + 0.678 / sqrt(k - 1.0) - 0.362 / (k - 1.0)
       END AS ad_reject
FROM ok
"""


def q_brown_forsythe_docs(spark, sf_dir):
    """Brown-Forsythe (median Levene) variance-homogeneity per lang
    across sources on n_chars (operators/rankstats.py brown_forsythe):
    the SCALE member of the k-sample family — fires on a source whose
    doc-length spread changed even when its median held. Median pinned
    to avg-of-two-middles on the tie-collapsed frame (no percentile-
    implementation drift); ONE fact scan, broadcast median join."""
    from htm_streamer_spark.operators.rankstats import brown_forsythe

    d = _t(spark, sf_dir, "documents")
    return brown_forsythe(d, "lang", "n_chars", "source")


SQL_BROWN_FORSYTHE = f"""
WITH col AS (
  SELECT lang, source AS cls, n_chars AS v, count(*)::BIGINT AS c
  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2, 3
),
wc AS (
  SELECT lang, cls, v, c,
         sum(c) OVER (
           PARTITION BY lang, cls ORDER BY v ROWS UNBOUNDED PRECEDING
         ) AS cum,
         sum(c) OVER (PARTITION BY lang, cls) AS nj
  FROM col
),
med AS (
  SELECT lang, cls,
         min(CASE WHEN cum >= ceil(nj / 2) THEN v END) AS lo,
         min(CASE WHEN cum >= floor(nj / 2) + 1 THEN v END) AS hi
  FROM wc GROUP BY 1, 2
),
dev AS (
  SELECT col.lang, col.cls, col.c,
         abs(col.v::DOUBLE - (med.lo + med.hi) / 2.0) AS z
  FROM col JOIN med ON med.lang = col.lang AND med.cls = col.cls
),
pc AS (
  SELECT lang, cls, sum(c)::BIGINT AS nj,
         sum(c * z) AS sz, sum(c * z * z) AS szz
  FROM dev GROUP BY 1, 2
),
a AS (
  SELECT lang, sum(nj)::BIGINT AS n, count(*)::BIGINT AS k,
         sum(sz * sz / nj) AS b, sum(sz) AS szt,
         sum(szz - sz * sz / nj) AS ssw
  FROM pc GROUP BY 1
),
w AS (
  SELECT lang, n, k,
    CASE WHEN k > 1 AND n > k AND ssw > 0 THEN
      (n::DOUBLE - k::DOUBLE) / (k::DOUBLE - 1.0)
        * (b - szt * szt / n::DOUBLE) / ssw
    END AS wv
  FROM a
)
SELECT lang, n, k,
       round(wv + 1e-9, 6) + 0.0 AS bf_stat,
       CASE WHEN wv IS NOT NULL
             AND {_chi2_case_sql("k - 1")} IS NOT NULL
            THEN (k::DOUBLE - 1.0) * wv > {_chi2_case_sql("k - 1")}
       END AS bf_reject
FROM w
"""


def q_welch_t_events(spark, sf_dir):
    """Welch's unequal-variance t-test per event_type between the
    even/odd event_id halves of value (operators/stattests.py
    welch_t): the parametric mean-shift member of the two-sample
    family (MWU = robust location, KS/CvM/energy = omnibus), with the
    Satterthwaite df reported. ONE map-side-combinable aggregation —
    the cheapest operator in the battery."""
    from htm_streamer_spark.operators.stattests import welch_t

    e = _t(spark, sf_dir, "events").select(
        "event_type", "value", (F.col("event_id") % 2).alias("half")
    )
    return welch_t(e, "event_type", "value", "half")


SQL_WELCH_T = """
WITH s AS (
  SELECT event_type,
         CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS ia,
         value AS v
  FROM events WHERE value IS NOT NULL
),
a AS (
  SELECT event_type,
         sum(ia)::BIGINT AS n_a, sum(1 - ia)::BIGINT AS n_b,
         sum(CASE WHEN ia = 1 THEN v END) AS sa,
         sum(CASE WHEN ia = 0 THEN v END) AS sb,
         sum(CASE WHEN ia = 1 THEN v * v END) AS qa,
         sum(CASE WHEN ia = 0 THEN v * v END) AS qb
  FROM s GROUP BY 1
),
f AS (
  SELECT event_type, n_a, n_b,
         sa / n_a::DOUBLE AS ma, sb / n_b::DOUBLE AS mb,
         CASE WHEN n_a > 1 THEN
           (qa - n_a::DOUBLE * (sa / n_a::DOUBLE) * (sa / n_a::DOUBLE))
             / (n_a::DOUBLE - 1.0) END AS va,
         CASE WHEN n_b > 1 THEN
           (qb - n_b::DOUBLE * (sb / n_b::DOUBLE) * (sb / n_b::DOUBLE))
             / (n_b::DOUBLE - 1.0) END AS vb
  FROM a
),
t AS (
  SELECT event_type, n_a, n_b, ma, mb, va, vb,
         va / n_a::DOUBLE + vb / n_b::DOUBLE AS se2
  FROM f
)
SELECT event_type, n_a, n_b,
  CASE WHEN n_a > 0 AND n_b > 0 THEN
    round(ma - mb + 1e-9, 6) + 0.0 END AS mean_diff,
  CASE WHEN se2 > 0 THEN
    round((ma - mb) / sqrt(se2) + 1e-9, 6) + 0.0 END AS t_stat,
  CASE WHEN se2 > 0 THEN
    round(se2 * se2
            / ((va / n_a::DOUBLE) * (va / n_a::DOUBLE)
                 / (n_a::DOUBLE - 1.0)
               + (vb / n_b::DOUBLE) * (vb / n_b::DOUBLE)
                 / (n_b::DOUBLE - 1.0))
          + 1e-9, 6) + 0.0 END AS dof,
  CASE WHEN se2 > 0 THEN
    abs((ma - mb) / sqrt(se2)) > 1.959963984540054 END AS t_reject
FROM t
"""


def q_arrival_profile_events(spark, sf_dir):
    """FUSED per-event_type arrival-process health report
    (operators/stattests.py arrival_profile): dispersion + Ljung-Box
    + dominant period + spectral entropy from ONE fact scan — the
    operator a monitor schedules instead of re-reading the fact table
    once per statistic. Single groupBy(group,bucket) shuffle into a
    persisted dense frame; all derivations + three broadcast-sized
    joins run on it. Each statistic is bit-identical to its standalone
    operator (same code, dense injected); the oracle is the join of
    the individual oracles."""
    from htm_streamer_spark.operators.stattests import arrival_profile

    e = _t(spark, sf_dir, "events")
    return arrival_profile(e, "event_type", "ts", bucket="hour")


SQL_ARRIVAL_PROFILE = (
    """
WITH cnt AS (
  SELECT event_type, date_trunc('hour', ts) AS b, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
span AS (SELECT event_type, min(b) AS lo, max(b) AS hi FROM cnt GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(lo, hi, interval '1 hour')) AS b
  FROM span
),
dense AS (
  SELECT grid.event_type, grid.b, coalesce(cnt.c, 0)::DOUBLE AS c
  FROM grid LEFT JOIN cnt ON cnt.event_type = grid.event_type AND cnt.b = grid.b
),
-- dispersion (Fano): exact power sums
a_d AS (
  SELECT event_type, count(*)::BIGINT AS nb, sum(c) AS s1, sum(c * c) AS s2
  FROM dense GROUP BY 1
),
f_d AS (
  SELECT event_type, nb, nb::DOUBLE AS nn, s1 / nb::DOUBLE AS mean,
         CASE WHEN nb > 1 THEN
           (s2 - nb::DOUBLE * (s1 / nb::DOUBLE) * (s1 / nb::DOUBLE))
             / (nb::DOUBLE - 1.0)
         END AS var
  FROM a_d
),
z_d AS (
  SELECT event_type, nb, mean,
         CASE WHEN mean > 0 THEN var / mean END AS fano,
         CASE WHEN (nn - 1.0) * (CASE WHEN mean > 0 THEN var / mean END) >= 0
              THEN sqrt(2.0 * ((nn - 1.0)
                     * (CASE WHEN mean > 0 THEN var / mean END)))
                   - sqrt(2.0 * (nn - 1.0) - 1.0)
         END AS zv
  FROM f_d
),
-- Ljung-Box over 6-dp-rounded ACF
m AS (SELECT event_type, avg(c) AS mu FROM dense GROUP BY 1),
dev AS (
  SELECT dense.event_type, b, c - mu AS d
  FROM dense JOIN m ON m.event_type = dense.event_type
),
l AS (
  SELECT event_type, d,
         lag(d, 1) OVER w AS d1, lag(d, 2) OVER w AS d2,
         lag(d, 3) OVER w AS d3, lag(d, 4) OVER w AS d4,
         lag(d, 5) OVER w AS d5
  FROM dev WINDOW w AS (PARTITION BY event_type ORDER BY b)
),
a_l AS (
  SELECT event_type, count(*)::BIGINT AS nb, sum(d * d) AS dn,
         sum(d * d1) AS s1, sum(d * d2) AS s2, sum(d * d3) AS s3,
         sum(d * d4) AS s4, sum(d * d5) AS s5
  FROM l GROUP BY 1
),
r_l AS (
  SELECT event_type, nb, nb::DOUBLE AS nn,
         CASE WHEN dn > 0 THEN round(s1 / dn + 1e-9, 6) + 0.0 END AS r1,
         CASE WHEN dn > 0 THEN round(s2 / dn + 1e-9, 6) + 0.0 END AS r2,
         CASE WHEN dn > 0 THEN round(s3 / dn + 1e-9, 6) + 0.0 END AS r3,
         CASE WHEN dn > 0 THEN round(s4 / dn + 1e-9, 6) + 0.0 END AS r4,
         CASE WHEN dn > 0 THEN round(s5 / dn + 1e-9, 6) + 0.0 END AS r5
  FROM a_l
),
q_l AS (
  SELECT event_type,
         CASE WHEN nb > 5 AND r1 IS NOT NULL THEN
           nn * (nn + 2.0) * (r1 * r1 / (nn - 1) + r2 * r2 / (nn - 2)
             + r3 * r3 / (nn - 3) + r4 * r4 / (nn - 4)
             + r5 * r5 / (nn - 5))
         END AS qv
  FROM r_l
),
-- periodogram: dominant harmonic + band-limited entropy
idx AS (
  SELECT event_type,
         (row_number() OVER (PARTITION BY event_type ORDER BY b) - 1)::DOUBLE
           AS t,
         count(*) OVER (PARTITION BY event_type)::DOUBLE AS n,
         c - avg(c) OVER (PARTITION BY event_type) AS d
  FROM dense
),
agg_p AS (
  SELECT event_type, max(n) AS nn, sum(d * d) AS ss,
"""
    + ",\n".join(
        f"         sum(d * cos(t * {lit} / n)) AS sa{k},\n"
        f"         sum(d * sin(t * {lit} / n)) AS sb{k}"
        for k, lit in _DP_LITS.items()
    )
    + """
  FROM idx GROUP BY 1
),
stacked AS (
"""
    + "\n  UNION ALL\n".join(
        f"  SELECT event_type, nn, ss, {k} AS k, sa{k} AS sa, sb{k} AS sb"
        " FROM agg_p"
        for k in _DP_LITS
    )
    + """
),
valid AS (
  SELECT event_type, nn, ss, k, (sa * sa + sb * sb) * 2.0 / nn AS pw
  FROM stacked WHERE ss > 0 AND k <= floor((nn - 1) / 2)
),
best AS (
  SELECT event_type, k, nn, ss, pw, row_number() OVER (
    PARTITION BY event_type ORDER BY round(pw + 1e-9, 6) DESC, k
  ) AS rn
  FROM valid
),
k0 AS (
  SELECT event_type, count(*)::BIGINT AS n_harmonics,
         count(CASE WHEN pw > 0 THEN 1 END)::BIGINT AS kk,
         sum(CASE WHEN pw > 0 THEN pw END) AS tot,
         sum(CASE WHEN pw > 0 THEN pw * ln(pw) END) AS plogp,
         sum(CASE WHEN pw > 0 THEN ln(pw) END) AS logsum
  FROM valid GROUP BY 1
)
SELECT z_d.event_type, z_d.nb AS n_buckets,
       round(z_d.mean + 1e-9, 6) + 0.0 AS mean_rate,
       round(z_d.fano + 1e-9, 6) + 0.0 AS fano,
       CASE WHEN z_d.zv IS NULL THEN NULL
            WHEN z_d.zv > 1.959963984540054 THEN 'over'
            WHEN z_d.zv < -1.959963984540054 THEN 'under'
            ELSE 'poisson' END AS dispersion,
       round(q_l.qv + 1e-9, 6) + 0.0 AS q_stat,
       CASE WHEN q_l.qv IS NOT NULL
            THEN q_l.qv > 11.070497693516351 END AS lb_reject,
       b2.k::BIGINT AS best_k,
       round(b2.nn / b2.k + 1e-9, 6) + 0.0 AS period_buckets,
       round(b2.pw / b2.ss + 1e-9, 6) + 0.0 AS power_frac,
       CASE WHEN k0.n_harmonics > 1 AND k0.tot > 0 THEN
         round((ln(k0.tot) - k0.plogp / k0.tot)
                 / ln(k0.n_harmonics::DOUBLE) + 1e-9, 6) + 0.0
       END AS spec_entropy,
       CASE WHEN k0.tot > 0 AND k0.kk = k0.n_harmonics THEN
         round(exp(k0.logsum / k0.n_harmonics::DOUBLE)
                 / (k0.tot / k0.n_harmonics::DOUBLE) + 1e-9, 6) + 0.0
            WHEN k0.tot > 0 THEN round(0.0 + 1e-9, 6) + 0.0
       END AS flatness
FROM z_d
LEFT JOIN q_l ON q_l.event_type = z_d.event_type
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b2
  ON b2.event_type = z_d.event_type
LEFT JOIN k0 ON k0.event_type = z_d.event_type
"""
)


def q_logrank_events(spark, sf_dir):
    """Two-sample log-rank test per event_type between the even/odd
    user_id halves of the inter-event gap survival curves
    (operators/survival.py logrank_test): the inferential member of
    the survival family — km_survival draws the censoring-correct
    curve, log-rank answers 'are the two curves the same?' with
    censored tails kept in the risk set. One persisted narrow scan
    (shared duration derivation); both classes fold as conditional
    aggregates on one collapsed frame — no per-class union or
    self-join. Durations bucketed to 600 s like km_survival."""
    from htm_streamer_spark.operators.survival import logrank_test

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        "ts",
        (F.col("user_id") % 2).alias("half"),
    )
    return logrank_test(
        e, "event_type", "user_id", "ts", "half", round_to=600
    )


SQL_LOGRANK = """
WITH eg AS (
  SELECT event_type,
         CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS ia,
         ts,
         lead(ts) OVER (
           PARTITION BY event_type, user_id ORDER BY ts
         ) AS nxt
  FROM events
),
endt AS (SELECT max(ts) AS e FROM events),
dur AS (
  SELECT event_type, ia,
         ((epoch_us(coalesce(nxt, endt.e)) - epoch_us(ts))
          // (600 * 1000000)) * 600 AS t,
         CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM eg CROSS JOIN endt
),
gt AS (
  SELECT event_type, t,
         sum(CASE WHEN ia = 1 THEN ev END)::BIGINT AS da,
         sum(ev)::BIGINT AS d,
         sum(ia)::BIGINT AS ma,
         count(*)::BIGINT AS m
  FROM dur GROUP BY 1, 2
),
rk AS (
  SELECT event_type, t, da, d,
         (sum(ma) OVER (PARTITION BY event_type)
           - (sum(ma) OVER win - ma)) AS na,
         (sum(m) OVER (PARTITION BY event_type)
           - (sum(m) OVER win - m)) AS n,
         sum(ma) OVER (PARTITION BY event_type) AS tot_a,
         (sum(m) OVER (PARTITION BY event_type)
           - sum(ma) OVER (PARTITION BY event_type)) AS tot_b
  FROM gt
  WINDOW win AS (
    PARTITION BY event_type ORDER BY t ROWS UNBOUNDED PRECEDING
  )
),
a AS (
  SELECT event_type,
         max(tot_a)::BIGINT AS n_a, max(tot_b)::BIGINT AS n_b,
         sum(da)::BIGINT AS o_a,
         sum(d::DOUBLE * (na::DOUBLE / n::DOUBLE)) AS ea,
         sum(CASE WHEN n > 1 THEN
           d::DOUBLE * (na::DOUBLE / n::DOUBLE)
             * (1.0 - na::DOUBLE / n::DOUBLE)
             * (n::DOUBLE - d::DOUBLE) / (n::DOUBLE - 1.0)
         END) AS v
  FROM rk WHERE d > 0 GROUP BY 1
)
SELECT event_type, n_a, n_b, o_a,
       round(ea + 1e-9, 6) + 0.0 AS e_a,
       CASE WHEN n_a > 0 AND n_b > 0 AND v > 0 THEN
         round((o_a::DOUBLE - ea) * (o_a::DOUBLE - ea) / v + 1e-9, 6)
           + 0.0
       END AS logrank_chi2,
       CASE WHEN n_a > 0 AND n_b > 0 AND v > 0 THEN
         (o_a::DOUBLE - ea) * (o_a::DOUBLE - ea) / v
           > 3.841458820694124
       END AS lr_reject
FROM a
"""


def q_mann_kendall_events(spark, sf_dir):
    """Per-event_type Mann–Kendall monotone-trend test over the dense
    hourly count series (operators/stattests.py mann_kendall): the
    nonparametric member of the trend family — CUSUM locates a mean
    shift, MK detects slow monotone decay/growth with tie-corrected
    variance and continuity-corrected z. One fact shuffle; the
    pairwise sign sum self-joins the metadata-sized bucket frame."""
    from htm_streamer_spark.operators.stattests import mann_kendall

    e = _t(spark, sf_dir, "events")
    return mann_kendall(e, "event_type", "ts", bucket="hour")


SQL_MANN_KENDALL = """
WITH cnt AS (
  SELECT event_type, date_trunc('hour', ts) AS b, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
span AS (SELECT event_type, min(b) AS lo, max(b) AS hi FROM cnt GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(lo, hi, interval '1 hour')) AS b
  FROM span
),
dense AS (
  SELECT grid.event_type, grid.b, coalesce(cnt.c, 0)::BIGINT AS c
  FROM grid LEFT JOIN cnt ON cnt.event_type = grid.event_type AND cnt.b = grid.b
),
s AS (
  SELECT a.event_type, sum(sign(b.c - a.c))::BIGINT AS s
  FROM dense a JOIN dense b
    ON a.event_type = b.event_type AND a.b < b.b
  GROUP BY 1
),
n AS (SELECT event_type, count(*)::BIGINT AS n_buckets FROM dense GROUP BY 1),
ties AS (
  SELECT event_type, sum(t * (t - 1) * (2 * t + 5)) AS tc
  FROM (SELECT event_type, count(*)::DOUBLE AS t FROM dense GROUP BY event_type, c)
  GROUP BY 1
),
j AS (
  SELECT n.event_type, n.n_buckets, s.s,
         (n.n_buckets::DOUBLE * (n.n_buckets - 1) * (2 * n.n_buckets + 5)
          - ties.tc) / 18.0 AS var_s
  FROM n JOIN s USING (event_type) JOIN ties USING (event_type)
),
z AS (
  SELECT event_type, n_buckets, s,
         CASE WHEN var_s <= 0 THEN NULL
              WHEN s > 0 THEN (s - 1) / sqrt(var_s)
              WHEN s < 0 THEN (s + 1) / sqrt(var_s)
              ELSE 0.0 END AS zv
  FROM j
)
SELECT event_type, n_buckets, s,
       round(zv + 1e-9, 6) + 0.0 AS z,
       CASE WHEN zv > 1.959964 THEN 'increasing'
            WHEN zv < -1.959964 THEN 'decreasing'
            ELSE 'none' END AS trend
FROM z
"""


def q_cochran_armitage_events(spark, sf_dir):
    """Cochran-Armitage proportion-trend per event_type on the daily
    SHARE of the stream (operators/stattests.py cochran_armitage): the
    PROPORTION member of the trend family — MK tests the absolute
    arrival count, Spearman a value column; CA answers "is this type's
    share of traffic creeping while total volume also moves", the
    compositional mix-drift question. ONE fact scan: per-bucket trials
    derive from the same (class, bucket) frame."""
    from htm_streamer_spark.operators.stattests import cochran_armitage

    e = _t(spark, sf_dir, "events")
    return cochran_armitage(e, "event_type", "ts", bucket="day")


SQL_COCHRAN_ARMITAGE = """
WITH per AS (
  SELECT event_type AS cls, date_trunc('day', ts) AS b,
         count(*)::DOUBLE AS y
  FROM events GROUP BY 1, 2
),
totals AS (SELECT b, sum(y) AS n FROM per GROUP BY 1),
lo AS (SELECT min(b) AS lo FROM totals),
st AS (
  SELECT t.b, t.n, date_diff('day', l.lo, t.b)::DOUBLE AS s
  FROM totals t CROSS JOIN lo l
),
grid AS (
  SELECT c.cls, st.b, st.n, st.s, coalesce(p.y, 0.0) AS y
  FROM st CROSS JOIN (SELECT DISTINCT cls FROM per) c
  LEFT JOIN per p ON p.cls = c.cls AND p.b = st.b
),
agg AS (
  SELECT cls, count(*)::BIGINT AS n_buckets,
         sum(n) AS nn, sum(y) AS yy,
         sum(s * y) AS sy, sum(s * n) AS sn, sum(s * s * n) AS ssn
  FROM grid GROUP BY 1
),
zc AS (
  SELECT cls, n_buckets, nn, yy,
         CASE WHEN (yy / nn) * (1.0 - yy / nn) * (ssn - sn * sn / nn) > 0
              THEN (sy - (yy / nn) * sn)
                   / sqrt((yy / nn) * (1.0 - yy / nn)
                          * (ssn - sn * sn / nn)) END AS zv
  FROM agg
)
SELECT cls AS event_type, n_buckets,
       nn::BIGINT AS n_total, yy::BIGINT AS n_class,
       round(zv + 1e-9, 6) + 0.0 AS z,
       CASE WHEN zv IS NULL THEN NULL
            WHEN zv > 1.959964 THEN 'increasing'
            WHEN zv < -1.959964 THEN 'decreasing'
            ELSE 'none' END AS trend
FROM zc
"""


def q_bootstrap_ci_events(spark, sf_dir):
    """Poisson-bootstrap CI for the per-type mean value
    (operators/resampling.py poisson_bootstrap_mean_ci, Chamandy et
    al. 2012): the UNCERTAINTY member of the profile family — every
    other profile stat is a point estimate; this one ships an error
    bar that survives 100 TB because each row draws its own
    deterministic md5-seeded Poisson(1) weight per replicate and all
    2B+2 aggregates combine map-side in ONE fact scan. The DuckDB
    oracle recomputes the exact integer weights bit-identically."""
    from htm_streamer_spark.operators.resampling import (
        poisson_bootstrap_mean_ci,
    )

    e = _t(spark, sf_dir, "events")
    return poisson_bootstrap_mean_ci(
        e, "event_type", "value", "event_id", n_replicas=48
    )


def _poisson1_cdf_sql() -> str:
    from htm_streamer_spark.operators.resampling import POISSON1_CDF

    return "[" + ", ".join(repr(c) for c in POISSON1_CDF) + "]"


SQL_BOOTSTRAP_CI = f"""
WITH reps AS (SELECT unnest(range(48)) AS b),
u AS (
  SELECT event_type, value, b,
         ('0x' || substr(md5(event_id::VARCHAR || ':' || b::VARCHAR),
                         1, 8))::BIGINT / 4294967296.0 AS uv
  FROM events CROSS JOIN reps
),
w AS (
  SELECT event_type, value, b,
         len(list_filter({_poisson1_cdf_sql()},
                         c -> uv >= c))::DOUBLE AS wt
  FROM u
),
m AS (
  SELECT event_type, b, sum(wt * value) / sum(wt) AS mean_b
  FROM w GROUP BY 1, 2 HAVING sum(wt) > 0
),
base AS (
  SELECT event_type, count(*)::BIGINT AS n, avg(value) AS mv
  FROM events GROUP BY 1
)
SELECT m.event_type, base.n,
       round(base.mv + 1e-9, 6) + 0.0 AS mean,
       count(*)::BIGINT AS n_boot,
       round(stddev_samp(mean_b) + 1e-9, 6) + 0.0 AS boot_se,
       round(quantile_cont(mean_b, 0.025) + 1e-9, 6) + 0.0 AS ci_lo,
       round(quantile_cont(mean_b, 0.975) + 1e-9, 6) + 0.0 AS ci_hi
FROM m JOIN base ON base.event_type = m.event_type
GROUP BY 1, 2, 3
"""


def q_roc_auc_events(spark, sf_dir):
    """Score-vs-label evaluation battery per event_type
    (operators/scoreeval.py score_label_eval): does `value` separate
    the high-k events (props.k >= 50)? Exact midrank AUC +
    Hanley-McNeil SE + the Youden-optimal threshold with TPR/FPR at
    it — the MODEL-EVAL member the profile family was missing. Runs
    on the tie-collapsed (group, score) frame: one fact shuffle, two
    distinct-score windows."""
    from htm_streamer_spark.operators.dedup import fan_out_narrow_scans
    from htm_streamer_spark.operators.scoreeval import score_label_eval

    # fan out the raw columns BELOW the JSON parse so the per-row
    # get_json_object runs at full parallelism, not on the scan's
    # single-row-group split (guide §2.5; no-op at real scale)
    e = fan_out_narrow_scans(
        _t(spark, sf_dir, "events").select("event_type", "value", "props")
    ).select(
        "event_type",
        "value",
        F.expr(
            "try_cast(get_json_object(props, '$.k') AS INT) >= 50"
        ).alias("lab"),
    )
    return score_label_eval(e, "event_type", "value", "lab")


SQL_ROC_AUC = """
WITH base AS (
  SELECT event_type, value AS s,
         CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS INT)
                   IS NULL THEN NULL
              WHEN TRY_CAST(json_extract_string(props, '$.k') AS INT)
                   >= 50 THEN 1 ELSE 0 END AS lab
  FROM events
),
cells AS (
  SELECT event_type, s, sum(lab)::DOUBLE AS pos_at,
         (count(*) - sum(lab))::DOUBLE AS neg_at
  FROM base WHERE s IS NOT NULL AND lab IS NOT NULL GROUP BY 1, 2
),
scanned AS (
  SELECT event_type, s, pos_at, neg_at,
    coalesce(sum(pos_at + neg_at) OVER (
        PARTITION BY event_type ORDER BY s
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      + (pos_at + neg_at + 1.0) / 2.0 AS midrank,
    sum(pos_at) OVER (PARTITION BY event_type ORDER BY s DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos_ge,
    sum(neg_at) OVER (PARTITION BY event_type ORDER BY s DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_neg_ge,
    sum(pos_at) OVER (PARTITION BY event_type) AS n_pos,
    sum(neg_at) OVER (PARTITION BY event_type) AS n_neg
  FROM cells
),
aucf AS (
  SELECT event_type, max(n_pos) AS n_pos, max(n_neg) AS n_neg,
         CASE WHEN max(n_pos) > 0 AND max(n_neg) > 0
              THEN (sum(pos_at * midrank)
                    - max(n_pos) * (max(n_pos) + 1.0) / 2.0)
                   / (max(n_pos) * max(n_neg)) END AS auc_raw
  FROM scanned GROUP BY 1
),
best AS (
  SELECT event_type, s AS best_thr,
         cum_pos_ge / n_pos AS tpr, cum_neg_ge / n_neg AS fpr,
         cum_pos_ge / n_pos - cum_neg_ge / n_neg AS j,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY cum_pos_ge / n_pos - cum_neg_ge / n_neg DESC
                    NULLS LAST,
                    cum_neg_ge / n_neg ASC NULLS LAST, s DESC) AS rn
  FROM scanned WHERE n_pos > 0 AND n_neg > 0
)
SELECT a.event_type, n_pos::BIGINT AS n_pos, n_neg::BIGINT AS n_neg,
  round(auc_raw + 1e-9, 6) + 0.0 AS auc,
  round(sqrt((auc_raw * (1.0 - auc_raw)
              + (n_pos - 1.0) * (auc_raw / (2.0 - auc_raw)
                                 - auc_raw * auc_raw)
              + (n_neg - 1.0) * (2.0 * auc_raw * auc_raw
                                 / (1.0 + auc_raw)
                                 - auc_raw * auc_raw))
             / (n_pos * n_neg)) + 1e-9, 6) + 0.0 AS auc_se,
  round(best_thr + 1e-9, 6) + 0.0 AS best_thr,
  round(tpr + 1e-9, 6) + 0.0 AS tpr_best,
  round(fpr + 1e-9, 6) + 0.0 AS fpr_best,
  round(j + 1e-9, 6) + 0.0 AS youden_j
FROM aucf a JOIN best b ON a.event_type = b.event_type AND b.rn = 1
"""


def q_pareto_docs(spark, sf_dir):
    """Pareto frontier of documents under maximize-(n_tokens, TTR)
    (operators/skyline.py pareto_frontier): efficient-frontier data
    selection — the docs where no other doc is both longer AND more
    lexically diverse (the two axes anti-correlate, so the frontier
    is the real tradeoff curve a fixed threshold on either axis
    misses). One (x, y) shuffle + a value-domain-sized running max;
    the verdict frame broadcasts back."""
    from htm_streamer_spark.operators.dedup import fan_out_narrow_scans
    from htm_streamer_spark.operators.ranking import TOKEN_SPLIT
    from htm_streamer_spark.operators.skyline import pareto_frontier

    # fan out below the tokenize projection (guide §2.5)
    d = fan_out_narrow_scans(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    words = d.select(
        "doc_id",
        F.split(F.trim(F.lower(F.col("text"))), TOKEN_SPLIT).alias("_w"),
    )
    toks = words.select(
        "doc_id", F.expr("filter(_w, t -> t != '')").alias("_t")
    )
    counts = toks.select(
        "doc_id",
        F.size("_t").alias("n_tokens"),
        F.size(F.array_distinct("_t")).alias("n_types"),
    ).filter(F.col("n_tokens") > 0)
    m = counts.select(
        "doc_id",
        "n_tokens",
        (F.col("n_types").cast("double") / F.col("n_tokens")).alias("ttr"),
    )
    return pareto_frontier(m, "doc_id", "n_tokens", "ttr").select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(F.col("ttr") + F.lit(1e-9), 6).alias("ttr"),
    )


SQL_PARETO_DOCS = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     t -> t <> '') AS ts
  FROM documents
),
m AS (
  SELECT doc_id, len(ts)::BIGINT AS n_tokens,
         len(list_distinct(ts))::DOUBLE / len(ts) AS ttr
  FROM toks WHERE len(ts) > 0
)
SELECT p.doc_id, p.n_tokens, round(p.ttr + 1e-9, 6) + 0.0 AS ttr
FROM m p
WHERE NOT EXISTS (
  SELECT 1 FROM m q
  WHERE q.n_tokens >= p.n_tokens AND q.ttr >= p.ttr
    AND (q.n_tokens > p.n_tokens OR q.ttr > p.ttr)
)
"""


def q_seasonal_mk_events(spark, sf_dir):
    """Per-event_type SEASONAL Mann–Kendall trend test over the dense
    hourly series (operators/stattests.py seasonal_mann_kendall,
    Hirsch & Slack 1984): the seasonality-robust trend member — the
    series splits into 24 hour-of-day seasons, S_j and tie-corrected
    Var_j are computed day-over-day WITHIN each season, then summed,
    so a diurnal cycle stops masking slow monotone decay. Same single
    fact shuffle as mann_kendall; the pairwise sign sum self-joins the
    metadata-sized bucket frame within (group, season) — 24x fewer
    pairs than the unstratified test."""
    from htm_streamer_spark.operators.stattests import seasonal_mann_kendall

    e = _t(spark, sf_dir, "events")
    return seasonal_mann_kendall(e, "event_type", "ts", bucket="hour")


SQL_SEASONAL_MK = """
WITH cnt AS (
  SELECT event_type, date_trunc('hour', ts) AS b, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
span AS (SELECT event_type, min(b) AS lo, max(b) AS hi FROM cnt GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(lo, hi, interval '1 hour')) AS b
  FROM span
),
dense AS (
  SELECT grid.event_type, grid.b, extract(hour FROM grid.b)::BIGINT AS season,
         coalesce(cnt.c, 0)::BIGINT AS c
  FROM grid LEFT JOIN cnt ON cnt.event_type = grid.event_type AND cnt.b = grid.b
),
s AS (
  SELECT a.event_type, sum(sign(b.c - a.c))::BIGINT AS s
  FROM dense a JOIN dense b
    ON a.event_type = b.event_type AND a.season = b.season AND a.b < b.b
  GROUP BY 1
),
n AS (SELECT event_type, count(*)::BIGINT AS n_buckets FROM dense GROUP BY 1),
nj AS (
  SELECT event_type, season, count(*)::DOUBLE AS nj
  FROM dense GROUP BY 1, 2
),
ties AS (
  SELECT event_type, season, sum(t * (t - 1) * (2 * t + 5)) AS tc
  FROM (SELECT event_type, season, count(*)::DOUBLE AS t
        FROM dense GROUP BY event_type, season, c)
  GROUP BY 1, 2
),
v AS (
  SELECT nj.event_type,
         sum((nj.nj * (nj.nj - 1) * (2 * nj.nj + 5) - ties.tc) / 18.0) AS var_s
  FROM nj JOIN ties USING (event_type, season)
  GROUP BY 1
),
z AS (
  SELECT n.event_type, n.n_buckets, coalesce(s.s, 0)::BIGINT AS s,
         CASE WHEN v.var_s <= 0 THEN NULL
              WHEN coalesce(s.s, 0) > 0 THEN (s.s - 1) / sqrt(v.var_s)
              WHEN coalesce(s.s, 0) < 0 THEN (s.s + 1) / sqrt(v.var_s)
              ELSE 0.0 END AS zv
  FROM n LEFT JOIN s USING (event_type) LEFT JOIN v USING (event_type)
)
SELECT event_type, n_buckets, s,
       round(zv + 1e-9, 6) + 0.0 AS z,
       CASE WHEN zv IS NULL THEN NULL
            WHEN zv > 1.959964 THEN 'increasing'
            WHEN zv < -1.959964 THEN 'decreasing'
            ELSE 'none' END AS trend
FROM z
"""


def q_pettitt_events(spark, sf_dir):
    """Per-event_type Pettitt change-point test over the dense hourly
    series (operators/stattests.py pettitt_changepoint, Pettitt 1979):
    the RANK member of the change-point family — CUSUM standardizes by
    a sigma that fat tails inflate, Page-Hinkley needs a tuned delta;
    Pettitt is distribution-free with a closed-form p. Computed via
    the midrank identity U_t = 2 S_t - t(n+1): one rank window + one
    cumulative window on the bucket frame — NO O(n^2) pair join."""
    from htm_streamer_spark.operators.stattests import pettitt_changepoint

    e = _t(spark, sf_dir, "events")
    return pettitt_changepoint(e, "event_type", "ts", bucket="hour")


SQL_PETTITT = """
WITH cnt AS (
  SELECT event_type, date_trunc('hour', ts) AS b, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
span AS (SELECT event_type, min(b) AS lo, max(b) AS hi FROM cnt GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(lo, hi, interval '1 hour')) AS b
  FROM span
),
dense AS (
  SELECT grid.event_type, grid.b, coalesce(cnt.c, 0)::BIGINT AS c
  FROM grid LEFT JOIN cnt ON cnt.event_type = grid.event_type AND cnt.b = grid.b
),
ranked AS (
  SELECT event_type, b,
         rank() OVER (PARTITION BY event_type ORDER BY c)
           + (count(*) OVER (PARTITION BY event_type, c) - 1) / 2.0 AS r
  FROM dense
),
scored AS (
  SELECT event_type, b,
         count(*) OVER (PARTITION BY event_type) AS n,
         row_number() OVER (PARTITION BY event_type ORDER BY b) AS t,
         2.0 * sum(r) OVER (PARTITION BY event_type ORDER BY b
                            ROWS UNBOUNDED PRECEDING)
           - row_number() OVER (PARTITION BY event_type ORDER BY b)
             * (count(*) OVER (PARTITION BY event_type) + 1) AS u
  FROM ranked
),
pre AS (SELECT * FROM scored WHERE t < n),
peak AS (
  SELECT event_type, b, u,
         max(abs(u)) OVER (PARTITION BY event_type) AS k
  FROM pre
),
best AS (
  SELECT event_type, max(k)::BIGINT AS k_stat, min(b) AS cp
  FROM peak WHERE abs(u) = k GROUP BY 1
),
totals AS (
  SELECT event_type, count(*)::BIGINT AS n_buckets FROM dense GROUP BY 1
)
SELECT t.event_type, t.n_buckets,
       coalesce(best.k_stat, 0)::BIGINT AS k_stat,
       CASE WHEN coalesce(best.k_stat, 0) > 0 THEN best.cp END AS cp_bucket,
       round(least(1.0,
         2.0 * exp(-6.0 * coalesce(best.k_stat, 0)::DOUBLE
                        * coalesce(best.k_stat, 0)::DOUBLE
                   / (t.n_buckets::DOUBLE * t.n_buckets * t.n_buckets
                      + t.n_buckets::DOUBLE * t.n_buckets)))
         + 1e-9, 6) + 0.0 AS p_approx,
       least(1.0,
         2.0 * exp(-6.0 * coalesce(best.k_stat, 0)::DOUBLE
                        * coalesce(best.k_stat, 0)::DOUBLE
                   / (t.n_buckets::DOUBLE * t.n_buckets * t.n_buckets
                      + t.n_buckets::DOUBLE * t.n_buckets))) < 0.05
         AS shift_detected
FROM totals t LEFT JOIN best USING (event_type)
"""


def q_kpss_events(spark, sf_dir):
    """Per-event_type KPSS level-stationarity test over the dense
    hourly series (operators/stattests.py kpss_level, KPSS 1992): the
    stationarity member of the trend family with the null REVERSED vs
    Mann-Kendall — rejecting is positive evidence the arrival level
    wanders (trend/unit root) and a frozen likelihood baseline will go
    stale. Bartlett long-run variance at l = floor(4 (n/100)^0.25);
    one fact shuffle, one per-group sort window feeding the cumsum and
    all lag columns, one combinable aggregation."""
    from htm_streamer_spark.operators.stattests import kpss_level

    e = _t(spark, sf_dir, "events")
    return kpss_level(e, "event_type", "ts", bucket="hour", max_lag=12)


_KPSS_LAGS = "\n".join(
    f"         lag(e, {j}) OVER (PARTITION BY event_type ORDER BY b) AS l{j},"
    for j in range(1, 13)
)
_KPSS_GSUMS = "\n".join(
    f"         sum(e * l{j}) AS g{j}," for j in range(1, 13)
)
_KPSS_TERMS = "\n".join(
    f"         + CASE WHEN lag_l >= {j} THEN 2.0 * (1.0 - {j}.0 / (lag_l + 1.0))"
    f" * coalesce(g{j}, 0.0) / n_buckets ELSE 0.0 END"
    for j in range(1, 13)
)
SQL_KPSS = f"""
WITH cnt AS (
  SELECT event_type, date_trunc('hour', ts) AS b, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
span AS (SELECT event_type, min(b) AS lo, max(b) AS hi FROM cnt GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(lo, hi, interval '1 hour')) AS b
  FROM span
),
dense AS (
  SELECT grid.event_type, grid.b, coalesce(cnt.c, 0)::BIGINT AS c
  FROM grid LEFT JOIN cnt ON cnt.event_type = grid.event_type AND cnt.b = grid.b
),
st AS (
  SELECT event_type, b,
         c - avg(c) OVER (PARTITION BY event_type) AS e
  FROM dense
),
sc AS (
  SELECT event_type, e,
         sum(e) OVER (PARTITION BY event_type ORDER BY b
                      ROWS UNBOUNDED PRECEDING) AS s,
{_KPSS_LAGS}
         b
  FROM st
),
agg AS (
  SELECT event_type, count(*)::BIGINT AS n_buckets,
         sum(s * s) AS num, sum(e * e) AS g0,
{_KPSS_GSUMS}
         0 AS _pad
  FROM sc GROUP BY 1
),
l AS (
  SELECT *, least(floor(4.0 * pow(n_buckets / 100.0, 0.25) + 1e-9)::BIGINT,
                  12::BIGINT, n_buckets - 1) AS lag_l
  FROM agg
),
s2 AS (
  SELECT event_type, n_buckets, lag_l, num,
         g0 / n_buckets
{_KPSS_TERMS}
         AS s2v
  FROM l
)
SELECT event_type, n_buckets, lag_l,
       round(CASE WHEN s2v > 0
                  THEN num / (n_buckets::DOUBLE * n_buckets * s2v) END
             + 1e-9, 6) + 0.0 AS kpss_stat,
       CASE WHEN s2v > 0
            THEN num / (n_buckets::DOUBLE * n_buckets * s2v) > 0.463
       END AS kpss_reject
FROM s2
"""


def q_truncation_docs(spark, sf_dir):
    """Histogram spike detector over whitespace token counts
    (operators/stattests.py histogram_spikes): the truncation/clipping
    check — a context-budget clip piles overflow mass into one bin
    that towers over both neighbors, visible with no baseline epoch.
    Token counting stays inside the scan's codegen stage; one bucket
    shuffle; grid + lag/lead on the bucket frame."""
    from htm_streamer_spark.operators.stattests import histogram_spikes
    from htm_streamer_spark.operators.textstats import token_count_col

    d = _t(spark, sf_dir, "documents")
    return histogram_spikes(
        d, token_count_col("text"), width=16, min_ratio=4.0, min_count=10
    )


SQL_TRUNCATION = r"""
WITH h AS (
  SELECT (CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), '\s+')) END
          // 16)::BIGINT AS bk,
         count(*)::BIGINT AS n
  FROM documents GROUP BY 1
),
span AS (SELECT min(bk) AS lo, max(bk) AS hi FROM h),
grid AS (SELECT unnest(generate_series(lo, hi)) AS bk FROM span),
dense AS (
  SELECT g.bk, coalesce(h.n, 0)::BIGINT AS n FROM grid g LEFT JOIN h USING (bk)
),
l AS (
  SELECT bk, n,
         coalesce(lag(n) OVER (ORDER BY bk), 0)::BIGINT AS prev_n,
         coalesce(lead(n) OVER (ORDER BY bk), 0)::BIGINT AS next_n
  FROM dense
)
SELECT bk AS bucket, (bk * 16)::BIGINT AS lo_value, n, prev_n, next_n,
       round(n / greatest(greatest(prev_n, next_n)::DOUBLE, 1.0) + 1e-9, 6)
         + 0.0 AS ratio,
       (n >= 10 AND
        n / greatest(greatest(prev_n, next_n)::DOUBLE, 1.0) >= 4.0) AS is_spike
FROM l
"""


def q_source_overlap_docs(spark, sf_dir):
    """Pairwise cross-source contamination matrix over winnowing
    fingerprints (operators/contamination.py cross_source_overlap):
    mirror/repackaged-dataset detection at the SOURCE level; overlap
    coefficient so containment isn't diluted by size. One
    fingerprinting scan; the fp join is bounded by the distinct
    (source, fp) collapse."""
    from htm_streamer_spark.operators.contamination import (
        cross_source_overlap,
    )

    d = _t(spark, sf_dir, "documents")
    return cross_source_overlap(d)


SQL_SOURCE_OVERLAP = """
WITH norm AS (
  SELECT doc_id, source,
         regexp_split_to_array(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               '\\s+') AS ws
  FROM documents
),
grams AS (
  SELECT doc_id, source,
         list_transform(generate_series(1, greatest(len(ws)-2, 0)),
                        i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]) AS grams
  FROM norm
),
hs AS (
  SELECT doc_id, source,
         list_transform(grams, g -> ('0x'||substr(md5(g),1,8))::BIGINT % 2147483647) AS hs
  FROM grams
),
fps AS (
  SELECT doc_id, source,
         CASE WHEN len(hs) = 0 THEN []
              WHEN len(hs) < 8 THEN [list_min(hs)]
              ELSE list_transform(generate_series(1, len(hs)-7),
                                  i -> list_min(hs[i:i+7]))
         END AS fps
  FROM hs
),
sfp AS (
  SELECT DISTINCT source AS s, t.fp
  FROM fps, unnest(fps.fps) AS t(fp)
  WHERE t.fp IS NOT NULL
),
tot AS (SELECT s, count(*)::BIGINT AS n FROM sfp GROUP BY 1),
sh AS (
  SELECT a.s AS source_a, b.s AS source_b, count(*)::BIGINT AS n_shared_fp
  FROM sfp a JOIN sfp b ON a.fp = b.fp AND a.s < b.s
  GROUP BY 1, 2
)
SELECT sh.source_a, sh.source_b, sh.n_shared_fp,
       ta.n AS n_a, tb.n AS n_b,
       round(sh.n_shared_fp / least(ta.n, tb.n)::DOUBLE + 1e-9, 6) + 0.0
         AS overlap
FROM sh
JOIN tot ta ON ta.s = sh.source_a
JOIN tot tb ON tb.s = sh.source_b
"""


def q_token_budget_docs(spark, sf_dir):
    """Per-source token-budget Pareto accounting (operators/textstats.py
    token_budget): who holds the token mass and which minimal source
    prefix covers 80% of it — the composition-planning twin of
    gini_events. Token counting inside the scan stage, one groupBy,
    windows on the |sources|-row frame."""
    from htm_streamer_spark.operators.textstats import token_budget

    d = _t(spark, sf_dir, "documents")
    return token_budget(d, threshold=0.8)


SQL_TOKEN_BUDGET = r"""
WITH per AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END
             )::BIGINT AS n_tokens
  FROM documents GROUP BY 1
),
t AS (SELECT sum(n_tokens)::DOUBLE AS tot FROM per),
c AS (
  SELECT source, n_docs, n_tokens,
         sum(n_tokens) OVER (ORDER BY n_tokens DESC, source ASC) AS cum
  FROM per
)
SELECT source, n_docs, n_tokens,
       round(n_tokens / t.tot + 1e-9, 6) + 0.0 AS share,
       round(cum / t.tot + 1e-9, 6) + 0.0 AS cum_share,
       ((cum - n_tokens) / t.tot < 0.8) AS in_top
FROM c, t
"""


def q_qq_drift_docs(spark, sf_dir):
    """Per-source QQ distance on n_chars vs the global deciles
    (operators/stattests.py quantile_qq_drift): the quantile-space
    drift member — KS reports the worst CDF gap in probability units,
    QQ reports the worst VALUE gap in column units (how many chars
    apart is this source's median?). Exact percentiles (the convention
    quantiles_docs pins bitwise vs quantile_cont); one group agg + a
    1-row global broadcast, codegen zip/max fold."""
    from htm_streamer_spark.operators.stattests import quantile_qq_drift

    d = _t(spark, sf_dir, "documents")
    return quantile_qq_drift(d, "source", "n_chars")


SQL_QQ_DRIFT = """
WITH per AS (
  SELECT source, count(*)::BIGINT AS n,
         quantile_cont(n_chars, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
  FROM documents GROUP BY 1
),
g AS (
  SELECT quantile_cont(n_chars, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qg
  FROM documents
)
SELECT source, n,
       round(list_max(list_transform(generate_series(1, 9),
                                     i -> abs(qs[i] - qg[i]))) + 1e-9, 6)
         + 0.0 AS qq_dist
FROM per, g
"""


def q_violation_bound_docs(spark, sf_dir):
    """Hoeffding violation-rate certificate over a deterministic 20%
    md5 hash sample (operators/certify.py): the triage tier for
    10^12-row tables — "with 99% confidence the true rate of every
    check is below upper_bound" from a pass over r% of the data; the
    full-scan suite stays the authoritative gate. Sample predicate +
    all check indicators are codegen inside ONE scan; one aggregation;
    stack unpivot on the 1-row frame."""
    from htm_streamer_spark.operators.certify import (
        violation_rate_certificate,
    )

    d = _t(spark, sf_dir, "documents")
    checks = {
        "empty_text": F.length(F.trim(F.col("text"))) == 0,
        "len_invariant": F.col("n_chars") != F.length(F.col("text")),
        "bad_source": ~F.col("source").isin(ALLOWED_SOURCES),
        "short_text": F.col("n_chars") < 60,
    }
    return violation_rate_certificate(
        d, checks, id_col="doc_id", sample_permille=200, delta=0.01
    )


SQL_VIOLATION_BOUND = """
WITH s AS (
  SELECT * FROM documents
  WHERE ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT
          % 2147483647 % 1000 < 200
),
a AS (
  SELECT count(*)::BIGINT AS n,
         sum((length(trim(text)) = 0)::BIGINT)::BIGINT AS v0,
         sum((n_chars != length(text))::BIGINT)::BIGINT AS v1,
         sum((source NOT IN ('src0','src1','src2','src3','src4','src5',
                             'src6','src7','src8','src9','src10','src11',
                             'src12','src13','src14','src15'))::BIGINT
             )::BIGINT AS v2,
         sum((n_chars < 60)::BIGINT)::BIGINT AS v3
  FROM s
),
u AS (
  SELECT 'empty_text' AS check_id, n, v0 AS v FROM a UNION ALL
  SELECT 'len_invariant', n, v1 FROM a UNION ALL
  SELECT 'bad_source', n, v2 FROM a UNION ALL
  SELECT 'short_text', n, v3 FROM a
)
SELECT check_id, n AS n_sampled, coalesce(v, 0)::BIGINT AS n_violations,
       CASE WHEN n > 0 THEN round(v::DOUBLE / n + 1e-9, 6) + 0.0 END AS rate,
       CASE WHEN n > 0 THEN
         round(least(v::DOUBLE / n + sqrt(ln(1.0 / 0.01) / (2.0 * n)), 1.0)
               + 1e-9, 6) + 0.0 END AS upper_bound
FROM u
"""


def q_dedup_recall_docs(spark, sf_dir):
    """Dedup-tier quality audit: LSH (minhash_pairs) vs the exact
    AllPairs ground truth (jaccard_join) over the same 3-gram shingle
    space, as ONE full-outer pair join + a 1-row scoreboard
    (n_exact, n_lsh, n_common, recall, precision). The invariant a
    sound confirm step must show: precision == 1.0 (every emitted LSH
    pair is exactly-verified), recall < 1 by the S-curve. This is the
    query that catches a banding regression BEFORE a production dedup
    run silently under-deduplicates. Both sides reuse their
    individually-oracled pipelines; the oracle recomputes both from
    scratch."""
    from htm_streamer_spark.operators.dedup import minhash_near_duplicates
    from htm_streamer_spark.operators.setjoin import jaccard_similarity_join

    d = _t(spark, sf_dir, "documents")
    exact = jaccard_similarity_join(d, threshold=0.5, mode="shingles", n=3)
    lsh = minhash_near_duplicates(d, jaccard_threshold=0.5, method="md5")
    j = exact.select("doc_a", "doc_b", F.lit(1).alias("_e")).join(
        lsh.select("doc_a", "doc_b", F.lit(1).alias("_l")),
        ["doc_a", "doc_b"],
        "full_outer",
    )
    agg = j.agg(
        F.count("_e").cast("long").alias("n_exact"),
        F.count("_l").cast("long").alias("n_lsh"),
        F.count(F.when(F.col("_e").isNotNull() & F.col("_l").isNotNull(), 1))
        .cast("long")
        .alias("n_common"),
    )
    return agg.select(
        "n_exact",
        "n_lsh",
        "n_common",
        F.when(
            F.col("n_exact") > 0,
            F.round(F.col("n_common") / F.col("n_exact") + F.lit(1e-9), 6),
        ).alias("recall"),
        F.when(
            F.col("n_lsh") > 0,
            F.round(F.col("n_common") / F.col("n_lsh") + F.lit(1e-9), 6),
        ).alias("precision"),
    )


def _sql_dedup_recall() -> str:
    return f"""
SELECT count(e.doc_a)::BIGINT AS n_exact,
       count(l.doc_a)::BIGINT AS n_lsh,
       count(CASE WHEN e.doc_a IS NOT NULL AND l.doc_a IS NOT NULL
                  THEN 1 END)::BIGINT AS n_common,
       CASE WHEN count(e.doc_a) > 0 THEN
         round(count(CASE WHEN e.doc_a IS NOT NULL AND l.doc_a IS NOT NULL
                          THEN 1 END)::DOUBLE / count(e.doc_a) + 1e-9, 6)
           + 0.0 END AS recall,
       CASE WHEN count(l.doc_a) > 0 THEN
         round(count(CASE WHEN e.doc_a IS NOT NULL AND l.doc_a IS NOT NULL
                          THEN 1 END)::DOUBLE / count(l.doc_a) + 1e-9, 6)
           + 0.0 END AS precision
FROM ( {SQL_JACCARD_JOIN} ) e
FULL JOIN ( {_sql_minhash()} ) l
  ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b
"""


def q_lang_confusion_docs(spark, sf_dir):
    """Declared-metadata vs content-derived label agreement: the
    confusion matrix of the documents table's `lang` column against
    the n-gram-marker lang_id prediction — the metadata-trust audit
    (a crawler that mislabels language poisons every per-language
    mixture weight downstream). The prediction scan carries only
    (doc_id, lang_pred); the declared label joins in as a narrow
    column-pruned second read."""
    from htm_streamer_spark.operators.textstats import lang_id

    d = _t(spark, sf_dir, "documents")
    return (
        lang_id(d)
        .join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


SQL_LANG_CONFUSION = f"""
SELECT d.lang, p.lang_pred, count(*)::BIGINT AS n
FROM documents d JOIN ( {SQL_LANG_ID} ) p USING (doc_id)
GROUP BY 1, 2
"""


def q_cube_events(spark, sf_dir):
    """Full CUBE over (event_type, weekday): all four grouping sets —
    cell, per-type, per-weekday, grand total — from ONE expand +
    aggregate (one shuffle, map-side partials for every level at
    once), the grouping-sets sibling of rollup_lineitem's hierarchy.
    The profile surface a drift dashboard reads: does Tuesday's error
    mix differ from the weekday norm? NULL markers coalesced to 'ALL'
    on both engines (weekday is never null in the data, so the marker
    is unambiguous)."""
    e = _t(spark, sf_dir, "events")
    wd = F.date_format("ts", "EEEE")
    return (
        e.cube(F.col("event_type"), wd.alias("weekday"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("weekday", F.lit("ALL")).alias("weekday"),
            "n",
            "sum_value",
        )
    )


SQL_CUBE_EVENTS = """
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(dayname(ts), 'ALL') AS weekday,
       count(*)::BIGINT AS n,
       round(sum(value), 4)::DOUBLE + 0.0 AS sum_value
FROM events
GROUP BY CUBE (event_type, dayname(ts))
"""


def q_jsd_sources_docs(spark, sf_dir):
    """Pairwise Jensen–Shannon divergence (nats) between per-source
    unigram distributions (operators/infotheory.py jsd_sources): the
    corpus-drift / source-redundancy measure for mixing decisions.
    Shared-terms decomposition JSD = ln2 − T — the only pairwise work
    is an equi-self-join of the vocabulary-sized distribution frame on
    term; no per-pair outer join, one tokenizing scan."""
    from htm_streamer_spark.operators.infotheory import jsd_sources

    d = _t(spark, sf_dir, "documents")
    return jsd_sources(d, "source")


SQL_JSD_SOURCES = r"""
WITH toks AS (
  SELECT source, t.term
  FROM documents,
       LATERAL (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term) t
  WHERE t.term <> ''
),
tf AS (SELECT source, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
tot AS (SELECT source, sum(tf)::DOUBLE AS tot FROM tf GROUP BY 1),
dist AS (
  SELECT tf.source, tf.term, tf.tf / tot.tot AS p
  FROM tf JOIN tot USING (source)
),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
         count(*)::BIGINT AS n_shared_terms,
         sum(  ((a.p + b.p) / 2) * ln((a.p + b.p) / 2)
             - (a.p / 2) * ln(a.p / 2)
             - (b.p / 2) * ln(b.p / 2)) AS t
  FROM dist a JOIN dist b ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2
),
srcs AS (SELECT DISTINCT source FROM dist),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b
  FROM srcs a JOIN srcs b ON a.source < b.source
)
SELECT p.source_a, p.source_b,
       coalesce(s.n_shared_terms, 0)::BIGINT AS n_shared_terms,
       round(ln(2.0) - coalesce(s.t, 0.0) + 1e-9, 6) + 0.0 AS jsd
FROM pairs p LEFT JOIN shared s USING (source_a, source_b)
"""


def q_bigram_nll_docs(spark, sf_dir):
    """Per-document mean conditional bigram NLL under the corpus' own
    MLE bigram model (operators/lm.py bigram_nll) — the order-
    sensitive quality signal: shuffled/stitched text keeps its unigram
    mix but breaks local word order. Bigrams built inside the words
    array (transform lambda), no positional self-join; the persisted
    narrow (doc, prev, cur, tf) frame feeds model + context + scoring."""
    from htm_streamer_spark.operators.lm import bigram_nll

    d = _t(spark, sf_dir, "documents")
    return bigram_nll(d)


SQL_BIGRAM_NLL = r"""
WITH words AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
  FROM documents
),
pairs AS (
  SELECT doc_id, ws[g.i] AS prev, ws[g.i + 1] AS cur
  FROM words,
       LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) g
  WHERE ws[g.i] <> '' AND ws[g.i + 1] <> ''
),
tf AS (
  SELECT doc_id, prev, cur, count(*)::BIGINT AS tf FROM pairs GROUP BY 1, 2, 3
),
corpus AS (SELECT prev, cur, sum(tf)::BIGINT AS bf FROM tf GROUP BY 1, 2),
ctx AS (SELECT prev, sum(bf)::BIGINT AS cf FROM corpus GROUP BY 1)
SELECT tf.doc_id,
       sum(tf.tf)::BIGINT AS n_bigrams,
       round(-sum(tf.tf * ln(bf::DOUBLE / cf)) / sum(tf.tf) + 1e-9, 6)::DOUBLE
         + 0.0 AS nll
FROM tf JOIN corpus USING (prev, cur) JOIN ctx USING (prev)
GROUP BY 1
"""


def q_transition_jsd_docs(spark, sf_dir):
    """Pairwise bigram-TRANSITION JSD between sources
    (operators/infotheory.py transition_jsd_sources): the
    order-sensitive companion to jsd_sources_docs — identical
    vocabularies with different word order (template-stitched vs
    natural text) diverge here and only here. Mixture-marginal
    weighted per-context JSD; the shared-support collapse leaves one
    equi-join of the transition frame on (prev, cur), no outer join,
    no per-pair corpus scan."""
    from htm_streamer_spark.operators.infotheory import (
        transition_jsd_sources,
    )

    d = _t(spark, sf_dir, "documents")
    return transition_jsd_sources(d, "source")


SQL_TRANSITION_JSD = r"""
WITH words AS (
  SELECT source, string_split_regex(trim(lower(text)), '\s+') AS ws
  FROM documents
),
prs AS (
  SELECT source, ws[g.i] AS prev, ws[g.i + 1] AS cur
  FROM words,
       LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) g
  WHERE ws[g.i] <> '' AND ws[g.i + 1] <> ''
),
bf AS (
  SELECT source, prev, cur, count(*)::BIGINT AS bf FROM prs GROUP BY 1, 2, 3
),
cf AS (SELECT source, prev, sum(bf)::DOUBLE AS cf FROM bf GROUP BY 1, 2),
tot AS (SELECT source, sum(bf)::DOUBLE AS tot FROM bf GROUP BY 1),
dist AS (
  SELECT bf.source, bf.prev, bf.cur,
         bf.bf / cf.cf AS q, cf.cf / tot.tot AS pm
  FROM bf JOIN cf USING (source, prev) JOIN tot USING (source)
),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
         count(*)::BIGINT AS n_shared_bigrams,
         sum(((a.pm + b.pm) / 2) * (
               ((a.q + b.q) / 2) * ln((a.q + b.q) / 2)
             - (a.q / 2) * ln(a.q / 2)
             - (b.q / 2) * ln(b.q / 2))) AS t
  FROM dist a
  JOIN dist b ON a.prev = b.prev AND a.cur = b.cur AND a.source < b.source
  GROUP BY 1, 2
),
srcs AS (SELECT DISTINCT source FROM dist),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b
  FROM srcs a JOIN srcs b ON a.source < b.source
)
SELECT p.source_a, p.source_b,
       coalesce(s.n_shared_bigrams, 0)::BIGINT AS n_shared_bigrams,
       round(ln(2.0) - coalesce(s.t, 0.0) + 1e-9, 6) + 0.0 AS tjsd
FROM pairs p LEFT JOIN shared s USING (source_a, source_b)
"""


def q_mi_events(spark, sf_dir):
    """Mutual information between event_type and hour-of-day
    (operators/infotheory.py mutual_information): the partial-coupling
    companion to the exact functional-dependency check — MI == 0 iff
    independent, nmi normalizes by sqrt(H_x*H_y). One groupBy(x,y)
    shuffle; marginals derive from the persisted cell frame."""
    from htm_streamer_spark.operators.infotheory import mutual_information

    e = _t(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hour_of_day")
    )
    return mutual_information(e, "event_type", "hour_of_day")


SQL_MI_EVENTS = """
WITH cells AS (
  SELECT event_type AS x, extract(hour FROM ts)::INT AS y,
         count(*)::DOUBLE AS c
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2
),
tot AS (SELECT sum(c) AS n FROM cells),
mx AS (SELECT x, sum(c) AS cx FROM cells GROUP BY 1),
my AS (SELECT y, sum(c) AS cy FROM cells GROUP BY 1),
per AS (
  SELECT tot.n,
         (c / n) * ln((c / n) / ((cx / n) * (cy / n))) AS mi_c,
         -(c / n) * ln(cx / n) AS hx_c,
         -(c / n) * ln(cy / n) AS hy_c
  FROM cells JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
),
agg AS (
  SELECT coalesce(any_value(n), 0.0)::BIGINT AS n_rows,
         count(*)::BIGINT AS n_cells,
         sum(hx_c) AS shx, sum(hy_c) AS shy, sum(mi_c) AS smi
  FROM per
)
SELECT n_rows, n_cells,
       round(shx + 1e-9, 6) + 0.0 AS h_x,
       round(shy + 1e-9, 6) + 0.0 AS h_y,
       round(smi + 1e-9, 6) + 0.0 AS mi,
       CASE WHEN shx > 0 AND shy > 0
            THEN round(smi / sqrt(shx * shy) + 1e-9, 6) + 0.0
       END AS nmi
FROM agg
"""


def q_theil_sen_events(spark, sf_dir):
    """Per-event_type Theil–Sen robust slope (value per day) of the
    daily-mean value series (operators/stattests.py theil_sen): the
    estimator companion to Mann–Kendall — median of all pairwise
    slopes, ~29% breakdown point. One fact shuffle; the pairwise-slope
    frame self-joins the metadata-sized bucket frame."""
    from htm_streamer_spark.operators.stattests import theil_sen

    e = _t(spark, sf_dir, "events")
    return theil_sen(e, "event_type", "ts", "value", bucket="day")


SQL_THEIL_SEN = """
WITH pts AS (
  SELECT event_type,
         epoch(date_trunc('day', ts)) / 86400.0 AS x,
         avg("value") AS y
  FROM events
  WHERE "value" IS NOT NULL
  GROUP BY event_type, date_trunc('day', ts)
),
slopes AS (
  SELECT a.event_type, (b.y - a.y) / (b.x - a.x) AS s
  FROM pts a JOIN pts b ON a.event_type = b.event_type AND a.x < b.x
),
med AS (
  SELECT event_type, count(*)::BIGINT AS n_pairs,
         quantile_cont(s, 0.5) AS m
  FROM slopes GROUP BY 1
),
n AS (SELECT event_type, count(*)::BIGINT AS n_buckets FROM pts GROUP BY 1)
SELECT n.event_type, n.n_buckets,
       coalesce(med.n_pairs, 0)::BIGINT AS n_pairs,
       round(med.m + 1e-9, 6) + 0.0 AS slope
FROM n LEFT JOIN med USING (event_type)
"""


def q_ccf_events(spark, sf_dir):
    """Lead–lag cross-correlation between every ordered pair of
    event_types' dense hourly count series at lags 0..3
    (operators/stattests.py ccf_bucket_counts): ACF's pairwise
    companion — "does feed A's volume predict feed B's k hours later".
    One fact shuffle; one window pass per group for all lags; the
    bucket-pair join never touches the fact table."""
    from htm_streamer_spark.operators.stattests import ccf_bucket_counts

    e = _t(spark, sf_dir, "events")
    return ccf_bucket_counts(e, "event_type", "ts", bucket="hour", max_lag=3)


SQL_CCF_EVENTS = """
WITH cnt AS (
  SELECT event_type, date_trunc('hour', ts) AS b, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
span AS (SELECT min(b) AS lo, max(b) AS hi FROM cnt),
types AS (SELECT DISTINCT event_type FROM cnt),
grid AS (
  SELECT t.event_type, g.b
  FROM types t CROSS JOIN (
    SELECT unnest(generate_series(lo, hi, interval '1 hour')) AS b FROM span
  ) g
),
dense AS (
  SELECT grid.event_type, grid.b, coalesce(cnt.c, 0)::DOUBLE AS c
  FROM grid LEFT JOIN cnt
    ON cnt.event_type = grid.event_type AND cnt.b = grid.b
),
lags AS (SELECT unnest(generate_series(0, 3)) AS lag),
j AS (
  SELECT a.event_type AS group_a, bb.event_type AS group_b, lags.lag,
         a.c AS x, bb.c AS y
  FROM dense a
  CROSS JOIN lags
  JOIN dense bb ON bb.event_type <> a.event_type
               AND epoch(bb.b) = epoch(a.b) + lags.lag * 3600
),
m AS (
  SELECT group_a, group_b, lag, count(*)::BIGINT AS n_overlap,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         sum(x * x) AS sxx, sum(y * y) AS syy
  FROM j GROUP BY 1, 2, 3
)
SELECT group_a, group_b, lag::INT AS lag, n_overlap,
       CASE WHEN (n_overlap * sxx - sx * sx) > 0
             AND (n_overlap * syy - sy * sy) > 0
            THEN round((n_overlap * sxy - sx * sy)
                 / sqrt((n_overlap * sxx - sx * sx)
                        * (n_overlap * syy - sy * sy)) + 1e-9, 6) + 0.0
       END AS ccf
FROM m
"""


def q_lift_events(spark, sf_dir):
    """Pairwise co-occurrence lift of event_types within (user, day)
    baskets (operators/infotheory.py basket_lift): lift == exp(PMI) —
    the per-pair coupling structure that mutual_information averages
    away. One scan collapses to the distinct membership frame; the
    pair join is a self-equi-join on the basket key (≤ |types| rows
    per basket), never a corpus cross join."""
    from htm_streamer_spark.operators.infotheory import basket_lift

    e = _t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("day"), "event_type"
    )
    return basket_lift(e, ["user_id", "day"], "event_type")


SQL_LIFT_EVENTS = """
WITH mem AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day, event_type
  FROM events WHERE event_type IS NOT NULL
),
tot AS (
  SELECT count(*)::DOUBLE AS nb
  FROM (SELECT DISTINCT user_id, day FROM mem)
),
freq AS (SELECT event_type, count(*)::BIGINT AS n FROM mem GROUP BY 1),
pairs AS (
  SELECT a.event_type AS item_a, b.event_type AS item_b,
         count(*)::BIGINT AS n_ab
  FROM mem a JOIN mem b
    ON a.user_id = b.user_id AND a.day = b.day
   AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT item_a, item_b, fa.n AS n_a, fb.n AS n_b, n_ab,
       round(n_ab / tot.nb + 1e-9, 6) + 0.0 AS support,
       round(n_ab * tot.nb / (fa.n * fb.n) + 1e-9, 6) + 0.0 AS lift
FROM pairs
JOIN freq fa ON fa.event_type = pairs.item_a
JOIN freq fb ON fb.event_type = pairs.item_b
CROSS JOIN tot
"""


def q_runs_test_events(spark, sf_dir):
    """Per-event_type Wald–Wolfowitz runs test on the sign of value vs
    the group's exact median, in (ts, event_id) order
    (operators/stattests.py runs_test): detects regime-clumping (too
    few runs) or interleaved-feed oscillation (too many) — sequence
    structure invisible to distribution (KS/PSI) and trend (MK) tests.
    One persisted narrow scan; broadcast median; one window pass."""
    from htm_streamer_spark.operators.stattests import runs_test

    e = _t(spark, sf_dir, "events")
    return runs_test(e, "event_type", "value", ["ts", "event_id"])


SQL_RUNS_TEST = """
WITH med AS (
  SELECT event_type, quantile_cont("value", 0.5) AS m FROM events GROUP BY 1
),
s AS (
  SELECT e.event_type, e.ts, e.event_id, ("value" > m) AS pos
  FROM events e JOIN med USING (event_type)
  WHERE "value" <> m
),
r AS (
  SELECT event_type, pos,
         CASE WHEN lag(pos) OVER (
                PARTITION BY event_type ORDER BY ts, event_id
              ) IS DISTINCT FROM pos THEN 1 ELSE 0 END AS new_run
  FROM s
),
agg AS (
  SELECT event_type,
         sum(CASE WHEN pos THEN 1 ELSE 0 END)::BIGINT AS n_pos,
         sum(CASE WHEN pos THEN 0 ELSE 1 END)::BIGINT AS n_neg,
         sum(new_run)::BIGINT AS runs
  FROM r GROUP BY 1
),
v AS (
  SELECT event_type, n_pos, n_neg, runs,
         n_pos::DOUBLE AS a, n_neg::DOUBLE AS b,
         (n_pos + n_neg)::DOUBLE AS n
  FROM agg
),
zc AS (
  SELECT event_type, n_pos, n_neg, runs,
         CASE WHEN a > 0 AND b > 0 AND n > 1
                   AND 2 * a * b * (2 * a * b - n) / (n * n * (n - 1)) > 0
              THEN (runs - (2 * a * b / n + 1))
                   / sqrt(2 * a * b * (2 * a * b - n) / (n * n * (n - 1)))
         END AS zv
  FROM v
)
SELECT event_type, n_pos, n_neg, runs,
       round(zv + 1e-9, 6) + 0.0 AS z,
       CASE WHEN zv < -1.959964 THEN 'clustered'
            WHEN zv > 1.959964 THEN 'oscillating'
            WHEN zv IS NULL THEN NULL
            ELSE 'random' END AS verdict
FROM zc
"""


def q_km_survival_events(spark, sf_dir):
    """Per-event_type Kaplan–Meier survival curve of the inter-event
    gap per user, right-censored at the global observation end
    (operators/survival.py km_survival): the censoring-correct member
    of the retention family — naive retention counts users whose
    window simply ended as churned; KM keeps them in the risk set.
    One persisted narrow scan; the curve derives from the collapsed
    per-duration frame via ordered cumulative windows (no self-join).
    Durations bucketed to 600 s so the curve frame stays bounded."""
    from htm_streamer_spark.operators.survival import km_survival

    e = _t(spark, sf_dir, "events")
    return km_survival(e, "event_type", "user_id", "ts", round_to=600)


SQL_KM_SURVIVAL = """
WITH eg AS (
  SELECT event_type,
         ts,
         lead(ts) OVER (
           PARTITION BY event_type, user_id ORDER BY ts
         ) AS nxt
  FROM events
),
endt AS (SELECT max(ts) AS e FROM events),
dur AS (
  SELECT event_type,
         ((epoch_us(coalesce(nxt, endt.e)) - epoch_us(ts))
          // (600 * 1000000)) * 600 AS t,
         CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM eg CROSS JOIN endt
),
gt AS (
  SELECT event_type, t, sum(ev)::BIGINT AS d, count(*)::BIGINT AS m
  FROM dur GROUP BY 1, 2
),
rk AS (
  SELECT event_type, t, d, m,
         sum(m) OVER (PARTITION BY event_type ORDER BY t) AS c_le,
         sum(m) OVER (PARTITION BY event_type) AS n_g
  FROM gt
),
ev AS (
  SELECT event_type, t, d, (n_g - (c_le - m))::BIGINT AS n_risk
  FROM rk WHERE d > 0
),
km AS (
  SELECT event_type, t, d, n_risk,
         max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END) OVER win AS hit0,
         sum(CASE WHEN d < n_risk
                  THEN ln(1 - d::DOUBLE / n_risk) END) OVER win AS lnsum
  FROM ev
  WINDOW win AS (PARTITION BY event_type ORDER BY t)
)
SELECT event_type, t AS duration_s, n_risk, d AS n_events,
       round(CASE WHEN hit0 = 1 THEN 0.0 ELSE exp(lnsum) END + 1e-9, 6)
         + 0.0 AS survival
FROM km
"""


def q_diurnal_events(spark, sf_dir):
    """Per-event_type 24 h harmonic fit of the hour-of-day count
    profile (operators/stattests.py diurnal_harmonic): amplitude /
    peak hour / explained variance of the diurnal cycle via the first
    DFT coefficient on the dense 24-point grid (exact least squares —
    no normal-equation solve). One fact shuffle; the fit aggregates
    24 rows per group."""
    from htm_streamer_spark.operators.stattests import diurnal_harmonic

    e = _t(spark, sf_dir, "events")
    return diurnal_harmonic(e, "event_type", "ts")


SQL_DIURNAL = """
WITH cnt AS (
  SELECT event_type, extract(hour FROM ts)::INT AS h, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
types AS (SELECT DISTINCT event_type FROM cnt),
grid AS (
  SELECT t.event_type, g.h
  FROM types t CROSS JOIN (
    SELECT unnest(generate_series(0, 23))::INT AS h
  ) g
),
dense AS (
  SELECT grid.event_type, grid.h, coalesce(cnt.c, 0)::BIGINT AS c
  FROM grid LEFT JOIN cnt
    ON cnt.event_type = grid.event_type AND cnt.h = grid.h
),
m AS (
  SELECT event_type,
         sum(c)::BIGINT AS n_events,
         sum(c * cos(h * 2 * pi() / 24)) * (2.0 / 24) AS a,
         sum(c * sin(h * 2 * pi() / 24)) * (2.0 / 24) AS b,
         var_pop(c::DOUBLE) AS v
  FROM dense GROUP BY 1
)
SELECT event_type, n_events,
       round(sqrt(a * a + b * b) + 1e-9, 6) + 0.0 AS amplitude,
       round(
         ((atan2(b, a) * 24 / (2 * pi())) % 24 + 24) % 24 + 1e-9, 6
       ) + 0.0 AS peak_hour,
       CASE WHEN v > 0
            THEN round((a * a + b * b) / 2 / v + 1e-9, 6) + 0.0
       END AS r2
FROM m
"""


def q_chao_vocab_docs(spark, sf_dir):
    """Per-source Chao1 vocabulary-richness estimate + Good–Turing
    coverage (operators/lm.py chao_richness): estimates the UNSEEN
    vocabulary — the crawl-budget signal (chao1 >> n_types means the
    source is under-sampled; coverage ~ 1 means more crawl buys
    duplication, not diversity). One tokenizing scan collapses to the
    vocabulary-sized per-term frame; estimator is one aggregate."""
    from htm_streamer_spark.operators.lm import chao_richness

    d = _t(spark, sf_dir, "documents")
    return chao_richness(d, "source")


SQL_CHAO_VOCAB = r"""
WITH toks AS (
  SELECT source, t.term
  FROM documents,
       LATERAL (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term) t
  WHERE t.term <> ''
),
tf AS (SELECT source, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
agg AS (
  SELECT source,
         sum(tf)::BIGINT AS n_tokens,
         count(*)::BIGINT AS n_types,
         sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END)::BIGINT AS f1,
         sum(CASE WHEN tf = 2 THEN 1 ELSE 0 END)::BIGINT AS f2
  FROM tf GROUP BY 1
)
SELECT source, n_tokens, n_types, f1, f2,
       round(n_types + (f1 * (f1 - 1)) / (2.0 * (f2 + 1)) + 1e-9, 6) + 0.0
         AS chao1,
       round(1.0 - f1::DOUBLE / n_tokens + 1e-9, 6) + 0.0 AS coverage
FROM agg
"""


def q_cvm_drift_events(spark, sf_dir):
    """Two-sample Cramér–von Mises drift per event_type
    (operators/stattests.py cvm_two_sample): the L2 ECDF distance —
    accumulates many small deviations the KS sup-norm ignores (tail
    drift, slight global shifts). Same deterministic even/odd
    event_id halves as ks_drift_events; same one-shuffle + per-group
    window plan shape."""
    from htm_streamer_spark.operators.stattests import cvm_two_sample

    e = _t(spark, sf_dir, "events").select(
        "event_type", "value", (F.col("event_id") % 2).alias("half")
    )
    return cvm_two_sample(e, "event_type", "value", "half")


SQL_CVM_DRIFT = """
WITH pv AS (
  SELECT event_type, value,
         sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS c0,
         sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS c1
  FROM events GROUP BY 1, 2
),
ecdf AS (
  SELECT event_type, (c0 + c1) AS c,
         sum(c0) OVER (PARTITION BY event_type ORDER BY value)
           / sum(c0) OVER (PARTITION BY event_type)::DOUBLE AS f0,
         sum(c1) OVER (PARTITION BY event_type ORDER BY value)
           / sum(c1) OVER (PARTITION BY event_type)::DOUBLE AS f1,
         sum(c0) OVER (PARTITION BY event_type) AS n0,
         sum(c1) OVER (PARTITION BY event_type) AS n1
  FROM pv
),
agg AS (
  SELECT event_type,
         max(n0)::BIGINT AS n0, max(n1)::BIGINT AS n1,
         sum(c * (f0 - f1) * (f0 - f1)) AS s
  FROM ecdf GROUP BY 1
)
SELECT event_type, n0, n1,
       round(CASE WHEN n0 > 0 AND n1 > 0
                  THEN n0::DOUBLE * n1 / ((n0 + n1)::DOUBLE * (n0 + n1)) * s
             END + 1e-9, 6) + 0.0 AS cvm_stat,
       CASE WHEN n0 > 0 AND n1 > 0
            THEN n0::DOUBLE * n1 / ((n0 + n1)::DOUBLE * (n0 + n1)) * s
                 > 0.461
       END AS drift
FROM agg
"""


def q_readability_docs(spark, sf_dir):
    """Per-document Flesch reading-ease from three codegen'd
    regexp_count expressions (operators/textstats.py readability):
    linguistic-complexity drift that quality_score's structural
    ratios miss. The text column never leaves the scan stage — no
    explode, zero shuffles."""
    from htm_streamer_spark.operators.textstats import readability

    d = _t(spark, sf_dir, "documents")
    return readability(d)


SQL_READABILITY = r"""
WITH c AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT
           AS n_words,
         greatest(
           len(regexp_extract_all(lower(text), '[.!?]+')), 1
         )::BIGINT AS n_sentences,
         (len(regexp_extract_all(lower(text), '[aeiouy]+'))
          + len(regexp_extract_all(
              lower(text), '\b[b-df-hj-np-tv-xz0-9]+\b'
            )))::BIGINT AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CASE WHEN n_words > 0
            THEN round(206.835
                       - 1.015 * (n_words::DOUBLE / n_sentences)
                       - 84.6 * (n_syllables::DOUBLE / n_words)
                       + 1e-9, 6) + 0.0
       END AS flesch
FROM c
"""


def q_perm_entropy_events(spark, sf_dir):
    """Per-event_type order-3 permutation entropy of the dense hourly
    count series (operators/stattests.py permutation_entropy): how
    predictable are the series' local shapes — linear or not (white
    noise → 1, deterministic/batched feeds → 0). Bandt–Pompe ordinal
    patterns with time-order tie-breaking; one fact shuffle; triples
    from one two-lead window pass on the metadata-sized grid."""
    from htm_streamer_spark.operators.stattests import permutation_entropy

    e = _t(spark, sf_dir, "events")
    return permutation_entropy(e, "event_type", "ts", bucket="hour")


SQL_PERM_ENTROPY = """
WITH cnt AS (
  SELECT event_type, date_trunc('hour', ts) AS b, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
span AS (SELECT event_type, min(b) AS lo, max(b) AS hi FROM cnt GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(lo, hi, interval '1 hour')) AS b
  FROM span
),
dense AS (
  SELECT grid.event_type, grid.b, coalesce(cnt.c, 0)::BIGINT AS c
  FROM grid LEFT JOIN cnt
    ON cnt.event_type = grid.event_type AND cnt.b = grid.b
),
trip AS (
  SELECT event_type, c AS a,
         lead(c, 1) OVER win AS x,
         lead(c, 2) OVER win AS y
  FROM dense
  WINDOW win AS (PARTITION BY event_type ORDER BY b)
),
pats AS (
  SELECT event_type,
         (a <= x)::INT::VARCHAR || (a <= y)::INT::VARCHAR
           || (x <= y)::INT::VARCHAR AS p
  FROM trip WHERE y IS NOT NULL
),
per_pat AS (
  SELECT event_type, p, count(*)::DOUBLE AS n FROM pats GROUP BY 1, 2
),
tot AS (SELECT event_type, sum(n) AS t FROM per_pat GROUP BY 1)
SELECT per_pat.event_type,
       max(t)::BIGINT AS n_triples,
       round(sum(-(n / t) * ln(n / t)) + 1e-9, 6) + 0.0 AS perm_entropy,
       round(sum(-(n / t) * ln(n / t)) / ln(6.0) + 1e-9, 6) + 0.0
         AS normalized
FROM per_pat JOIN tot USING (event_type)
GROUP BY 1
"""


def q_json_keys_events(spark, sf_dir):
    """Top-level key-presence profile of the events props JSON blob
    (operators/profiling.py json_key_profile): the semi-structured
    member of the schema-drift family — keys appearing/decaying inside
    a properties blob are implicit schema migrations. One persisted
    narrow scan; explode_outer (plan-hygiene) + key-sized shuffle."""
    from htm_streamer_spark.operators.profiling import json_key_profile

    e = _t(spark, sf_dir, "events")
    return json_key_profile(e, "props")


SQL_JSON_KEYS = """
WITH tot AS (SELECT count(*)::DOUBLE AS n FROM events),
k AS (
  SELECT unnest(json_keys(props)) AS key FROM events
  WHERE props IS NOT NULL
)
SELECT key, count(*)::BIGINT AS n_present,
       round(count(*) / tot.n + 1e-9, 6) + 0.0 AS presence_rate
FROM k CROSS JOIN tot
GROUP BY key, tot.n
"""


def q_json_types_events(spark, sf_dir):
    """Per (key, canonical value type) profile of the events props
    JSON blob (operators/profiling.py json_type_profile): the TYPE
    member of the semi-structured schema-drift family — a key whose
    values silently flip int→string breaks downstream parsers while
    presence stays 100%. Spark variant type names canonicalized to
    {null,bool,int,float,string,array,object}; the DuckDB twin maps
    json_type names to the same set. One scan, one (key,vtype)
    shuffle."""
    from htm_streamer_spark.operators.profiling import json_type_profile

    e = _t(spark, sf_dir, "events")
    return json_type_profile(e, "props")


SQL_JSON_TYPES = """
WITH keyed AS (
  SELECT t.key, json_type(try_cast(props AS JSON), '$.' || t.key) AS jt,
         try_cast(json_extract(try_cast(props AS JSON), '$.' || t.key)
                  AS DOUBLE) AS xv
  FROM events,
       LATERAL (
         SELECT unnest(json_keys(try_cast(props AS JSON))) AS key
       ) t
),
canon AS (
  SELECT key,
         CASE coalesce(jt, 'NULL')
           WHEN 'NULL' THEN 'null'
           WHEN 'BOOLEAN' THEN 'bool'
           WHEN 'BIGINT' THEN 'int'
           WHEN 'UBIGINT' THEN 'int'
           WHEN 'HUGEINT' THEN 'int'
           WHEN 'DOUBLE' THEN
             CASE WHEN xv IS NOT NULL AND (xv % 1) = 0
                  THEN 'int' ELSE 'float' END
           WHEN 'VARCHAR' THEN 'string'
           WHEN 'ARRAY' THEN 'array'
           WHEN 'OBJECT' THEN 'object'
           ELSE 'other'
         END AS vtype
  FROM keyed
),
agg AS (
  SELECT key, vtype, count(*)::BIGINT AS n FROM canon GROUP BY 1, 2
)
SELECT key, vtype, n,
       round(n / (sum(n) OVER (PARTITION BY key)) + 1e-9, 6) + 0.0 AS share
FROM agg
"""


def q_isotonic_events(spark, sf_dir):
    """Per-event_type isotonic regression of mean value over
    hour-of-day (operators/isotonic.py isotonic_fit): the monotone
    calibration curve, exact weighted PAVA computed distributed via
    the minimax identity max_{j<=i} min_{k>=i} wmean(j..k) — joins and
    aggregates over the 24-bucket frame, one fact shuffle, no
    sequential pass."""
    from htm_streamer_spark.operators.isotonic import isotonic_fit

    e = _t(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").cast("long").alias("hod"), "value"
    )
    out = isotonic_fit(e, "event_type", "hod", "value")
    return out.select(
        "event_type",
        F.col("x").alias("hod"),
        "n",
        "mean_y",
        "iso_y",
    )


SQL_ISOTONIC = """
WITH agg AS (
  SELECT event_type AS g, extract(hour FROM ts)::BIGINT AS x,
         count(*)::BIGINT AS w, sum(value)::DOUBLE AS sy
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
pre AS (
  SELECT g, x, w, sy,
         sum(sy) OVER (
           PARTITION BY g ORDER BY x ROWS UNBOUNDED PRECEDING
         ) AS cy,
         sum(w) OVER (
           PARTITION BY g ORDER BY x ROWS UNBOUNDED PRECEDING
         ) AS cw
  FROM agg
),
pairs AS (
  SELECT l.g, l.x AS xj, h.x AS xk,
         (h.cy - (l.cy - l.sy)) / (h.cw - (l.cw - l.w)) AS m
  FROM pre l JOIN pre h ON l.g = h.g AND l.x <= h.x
),
inner_ AS (
  SELECT p.g, a.x AS xi, p.xj, min(p.m) AS minm
  FROM pairs p JOIN agg a ON a.g = p.g AND p.xj <= a.x AND a.x <= p.xk
  GROUP BY 1, 2, 3
),
iso AS (SELECT g, xi, max(minm) AS iso FROM inner_ GROUP BY 1, 2)
SELECT a.g AS event_type, a.x AS hod, a.w AS n,
       round(a.sy / a.w + 1e-9, 6) + 0.0 AS mean_y,
       round(iso.iso + 1e-9, 6) + 0.0 AS iso_y
FROM agg a JOIN iso ON iso.g = a.g AND iso.xi = a.x
"""


def q_page_hinkley_events(spark, sf_dir):
    """Per-event_type Page–Hinkley change statistic over value in
    (ts, event_id) order (operators/stattests.py page_hinkley): the
    ONLINE change detector — tracks the running mean instead of
    CUSUM's frozen baseline epoch, so it works before any baseline is
    trusted. Three stacked windows over one per-group sort."""
    from htm_streamer_spark.operators.stattests import page_hinkley

    e = _t(spark, sf_dir, "events")
    return page_hinkley(
        e, "event_type", "value", ["ts", "event_id"], delta=0.0, lam=2000.0
    )


SQL_PAGE_HINKLEY = """
WITH dev AS (
  SELECT event_type, ts, event_id,
         "value" - avg("value") OVER (
           PARTITION BY event_type ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - 0.0 AS d
  FROM events
),
m AS (
  SELECT event_type, ts, event_id,
         sum(d) OVER (
           PARTITION BY event_type ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS m
  FROM dev
),
ph AS (
  SELECT event_type,
         m - min(m) OVER (
           PARTITION BY event_type ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS p
  FROM m
)
SELECT event_type, count(*)::BIGINT AS n_rows,
       round(max(p) + 1e-9, 6) + 0.0 AS ph,
       max(p) > 2000.0 AS alarm
FROM ph GROUP BY 1
"""


def q_nb_overdispersion_events(spark, sf_dir):
    """Per-event_type negative-binomial fit of per-user event counts
    by method of moments (operators/parametric.py nb_overdispersion):
    the parametric twin of dispersion_events — Fano says overdispersed,
    NB(r, p) says by how much (small r = a few heavy users own the
    feed) and implies the silent-entity rate (pred_zero). One
    combinable groupBy(group, user) count collapse + power sums."""
    from htm_streamer_spark.operators.parametric import nb_overdispersion

    e = _t(spark, sf_dir, "events")
    return nb_overdispersion(e, "event_type", "user_id")


SQL_NB_OVERDISPERSION = """
WITH ent AS (
  SELECT event_type, user_id, count(*)::DOUBLE AS c
  FROM events GROUP BY 1, 2
),
agg AS (
  SELECT event_type, count(*)::DOUBLE AS n,
         sum(c) AS s1, sum(c * c) AS s2
  FROM ent GROUP BY 1
),
fin AS (
  SELECT event_type, n, s1 / n AS m,
         CASE WHEN n > 1 THEN (s2 - s1 * s1 / n) / (n - 1) END AS v
  FROM agg
)
SELECT event_type, n::BIGINT AS n_entities,
       round(m + 1e-9, 6) + 0.0 AS mean_cnt,
       round(v + 1e-9, 6) + 0.0 AS var_cnt,
       CASE WHEN m != 0 THEN round(v / m + 1e-9, 6) + 0.0 END AS fano,
       CASE WHEN v > m THEN round(m * m / (v - m) + 1e-9, 6) + 0.0 END AS r,
       CASE WHEN v > m THEN round(m / v + 1e-9, 6) + 0.0 END AS p,
       CASE WHEN v > m
            THEN round(pow((m * m / (v - m)) / ((m * m / (v - m)) + m),
                           m * m / (v - m)) + 1e-9, 6) + 0.0
       END AS pred_zero
FROM fin
"""


def q_ess_docs(spark, sf_dir):
    """Per-source Kish effective sample size under length weighting
    (operators/mixing.py ess_weights, w = whitespace token count): the
    honesty check on any length-weighted sample — a source with a few
    giant docs contributes far fewer EFFECTIVE examples than its row
    count claims. One combinable aggregate, token counting stays a
    codegen'd expression inside the scan stage."""
    from htm_streamer_spark.operators.mixing import ess_weights
    from htm_streamer_spark.operators.textstats import token_count_col

    d = _t(spark, sf_dir, "documents").select(
        "source", token_count_col("text").cast("double").alias("w")
    )
    return ess_weights(d, "source", F.col("w"))


SQL_ESS_DOCS = r"""
WITH w AS (
  SELECT source,
         CASE WHEN length(trim(text)) = 0 THEN 0.0
              ELSE len(string_split_regex(trim(text), '\s+'))::DOUBLE
         END AS w
  FROM documents
),
agg AS (
  SELECT source, count(*)::BIGINT AS n_rows,
         sum(w) AS sw, sum(w * w) AS sww
  FROM w WHERE w IS NOT NULL AND w >= 0
  GROUP BY 1
)
SELECT source, n_rows,
       round(sw + 1e-9, 6) + 0.0 AS sum_w,
       CASE WHEN sww != 0
            THEN round(sw * sw / sww + 1e-9, 6) + 0.0 END AS ess,
       CASE WHEN sww != 0
            THEN round(sw * sw / sww / n_rows + 1e-9, 6) + 0.0
       END AS ess_ratio
FROM agg
"""


def q_topk_overlap_docs(spark, sf_dir):
    """Pairwise Jaccard overlap of the top-50 term sets of every
    source pair (operators/lm.py topk_overlap_sources): the fast
    head-vocabulary triage for redundant feeds and language
    mismatches — JSD/Hellinger read the full distributions; this reads
    the 50 most common words. One tokenizing scan, per-group top-k
    window, k-sized pairwise equi-join on term."""
    from htm_streamer_spark.operators.lm import topk_overlap_sources

    d = _t(spark, sf_dir, "documents")
    return topk_overlap_sources(d, "source", k=50)


SQL_TOPK_OVERLAP = r"""
WITH toks AS (
  SELECT source, t.term
  FROM documents,
       LATERAL (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term) t
  WHERE t.term <> ''
),
tf AS (SELECT source, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
top AS (
  SELECT source, term
  FROM (SELECT source, term,
               row_number() OVER (PARTITION BY source
                                  ORDER BY tf DESC, term ASC) AS rn
        FROM tf)
  WHERE rn <= 50
),
sizes AS (SELECT source, count(*)::BIGINT AS k FROM top GROUP BY 1),
common AS (
  SELECT a.source AS source_a, b.source AS source_b,
         count(*)::BIGINT AS n_common
  FROM top a JOIN top b ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2
),
pairs AS (
  SELECT sa.source AS source_a, sb.source AS source_b,
         sa.k AS k_a, sb.k AS k_b
  FROM sizes sa JOIN sizes sb ON sa.source < sb.source
)
SELECT p.source_a, p.source_b, p.k_a, p.k_b,
       coalesce(c.n_common, 0)::BIGINT AS n_common,
       round(coalesce(c.n_common, 0)
             / (p.k_a + p.k_b - coalesce(c.n_common, 0))::DOUBLE
             + 1e-9, 6) + 0.0 AS jaccard
FROM pairs p LEFT JOIN common c USING (source_a, source_b)
"""


def q_weibull_gaps_events(spark, sf_dir):
    """Per-event_type Weibull fit of per-user inter-arrival gaps via
    the log-moment estimator (operators/parametric.py weibull_gaps):
    the PARAMETRIC member of the arrival battery — exp_gap_ks TESTS
    exponentiality, Fano scores dispersion; the Weibull shape says HOW
    non-exponential (<1 bursty, ≈1 Poisson, >1 machine-paced). One
    per-entity lag window collapsing to combinable log power sums."""
    from htm_streamer_spark.operators.parametric import weibull_gaps

    e = _t(spark, sf_dir, "events")
    return weibull_gaps(e, "event_type", "user_id", "ts", order_cols=("event_id",))


SQL_WEIBULL_GAPS = """
WITH gaps AS (
  SELECT event_type,
         (epoch_us(ts) - lag(epoch_us(ts)) OVER (
            PARTITION BY event_type, user_id ORDER BY ts, event_id
          )) / 1e6 AS gap
  FROM events
),
pos AS (SELECT event_type, gap, ln(gap) AS lg FROM gaps WHERE gap > 0),
agg AS (
  SELECT event_type, count(*)::BIGINT AS n_gaps,
         sum(lg) AS s1, sum(lg * lg) AS s2, avg(gap) AS mg
  FROM pos GROUP BY 1
),
fit AS (
  SELECT event_type, n_gaps, mg, s1 / n_gaps AS mean_ln,
         sqrt(greatest((s2 - s1 * s1 / n_gaps) / (n_gaps - 1), 0.0)) AS sd_ln
  FROM agg
),
fin AS (
  SELECT event_type, n_gaps, mg, mean_ln, sd_ln,
         pi() / sqrt(6.0) / sd_ln AS shape
  FROM fit
)
SELECT event_type, n_gaps,
       CASE WHEN n_gaps >= 3 AND sd_ln > 0
            THEN round(shape + 1e-9, 6) + 0.0 END AS shape,
       CASE WHEN n_gaps >= 3 AND sd_ln > 0
            THEN round(exp(mean_ln + 0.57721566490153286554 / shape)
                       + 1e-9, 6) + 0.0 END AS scale,
       round(mg + 1e-9, 6) + 0.0 AS mean_gap
FROM fin
"""


def q_l_moments_events(spark, sf_dir):
    """Per-event_type sample L-moments l1/l2 + L-CV/L-skew/L-kurt of
    value (operators/parametric.py l_moments): the outlier-robust
    shape profile — classical skew/kurtosis fourth-power the data so
    one wild row owns them at scale; L-ratios are linear in the order
    statistics and bounded in (−1, 1). One per-group sort window for
    ranks, then one combinable aggregate (binomial weights are per-row
    expressions of rank and n — no pairwise join)."""
    from htm_streamer_spark.operators.parametric import l_moments

    e = _t(spark, sf_dir, "events")
    return l_moments(e, "event_type", "value")


SQL_L_MOMENTS = """
WITH base AS (
  SELECT event_type, value::DOUBLE AS x FROM events WHERE value IS NOT NULL
),
ranked AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type ORDER BY x)::DOUBLE AS i,
         count(*) OVER (PARTITION BY event_type)::DOUBLE AS n
  FROM base
),
agg AS (
  SELECT event_type, max(n)::BIGINT AS n_rows,
         avg(x) AS b0,
         avg(x * (i - 1) / (n - 1)) AS b1,
         avg(x * (i - 1) / (n - 1) * (i - 2) / (n - 2)) AS b2,
         avg(x * (i - 1) / (n - 1) * (i - 2) / (n - 2) * (i - 3) / (n - 3))
           AS b3
  FROM ranked GROUP BY 1
),
fin AS (
  SELECT event_type, n_rows, b0 AS l1,
         2 * b1 - b0 AS l2,
         6 * b2 - 6 * b1 + b0 AS l3,
         20 * b3 - 30 * b2 + 12 * b1 - b0 AS l4
  FROM agg
)
SELECT event_type, n_rows,
       round(l1 + 1e-9, 6) + 0.0 AS l1,
       CASE WHEN n_rows >= 4 THEN round(l2 + 1e-9, 6) + 0.0 END AS l2,
       CASE WHEN n_rows >= 4 AND l1 != 0
            THEN round(l2 / l1 + 1e-9, 6) + 0.0 END AS l_cv,
       CASE WHEN n_rows >= 4 AND l2 != 0
            THEN round(l3 / l2 + 1e-9, 6) + 0.0 END AS l_skew,
       CASE WHEN n_rows >= 4 AND l2 != 0
            THEN round(l4 / l2 + 1e-9, 6) + 0.0 END AS l_kurt
FROM fin
"""


def q_tail_dep_events(spark, sf_dir):
    """Per-event_type tail-dependence coefficients between value and
    the props.k payload at q = 0.9 (operators/dependence.py
    tail_dependence): do the EXTREMES co-occur — the joint-tail risk
    Pearson (body) and Spearman (any monotone body) both miss; two
    feeds can be body-independent yet fail together at the 99th
    percentile. Fractional ranks via cume_dist (max-tie — bitwise
    cross-engine), two per-group sort windows, one aggregate."""
    from htm_streamer_spark.operators.dedup import fan_out_narrow_scans
    from htm_streamer_spark.operators.dependence import tail_dependence

    # fan out the raw columns BELOW the JSON parse (guide §2.5)
    e = fan_out_narrow_scans(
        _t(spark, sf_dir, "events").select("event_type", "value", "props")
    ).select(
        "event_type",
        "value",
        F.expr("try_cast(get_json_object(props, '$.k') AS INT)").alias("k"),
    )
    return tail_dependence(e, "event_type", "value", "k", q=0.9)


SQL_TAIL_DEP = """
WITH base AS (
  SELECT event_type, value::DOUBLE AS x,
         try_cast(json_extract_string(props, '$.k') AS INT)::DOUBLE AS y
  FROM events
  WHERE value IS NOT NULL
    AND try_cast(json_extract_string(props, '$.k') AS INT) IS NOT NULL
),
ranked AS (
  SELECT event_type,
         cume_dist() OVER (PARTITION BY event_type ORDER BY x) AS ux,
         cume_dist() OVER (PARTITION BY event_type ORDER BY y) AS uy
  FROM base
),
agg AS (
  SELECT event_type, count(*)::BIGINT AS n_rows,
         sum(CASE WHEN ux > 0.9 THEN 1 ELSE 0 END)::BIGINT AS nu,
         sum(CASE WHEN ux > 0.9 AND uy > 0.9 THEN 1 ELSE 0 END)::BIGINT AS nuu,
         sum(CASE WHEN ux <= 0.1 THEN 1 ELSE 0 END)::BIGINT AS nl,
         sum(CASE WHEN ux <= 0.1 AND uy <= 0.1 THEN 1 ELSE 0 END)::BIGINT AS nll
  FROM ranked GROUP BY 1
)
SELECT event_type, n_rows, nu AS n_upper,
       CASE WHEN nu > 0
            THEN round(nuu / nu::DOUBLE + 1e-9, 6) + 0.0 END AS lambda_u,
       nl AS n_lower,
       CASE WHEN nl > 0
            THEN round(nll / nl::DOUBLE + 1e-9, 6) + 0.0 END AS lambda_l
FROM agg
"""


def q_ratio_metric_events(spark, sf_dir):
    """Per-event_type mean value reported as BOTH ratio estimands with
    a user-clustered delta-method SE (operators/dependence.py
    ratio_metric): ratio of sums (event-weighted) vs mean of per-user
    means (user-weighted) — the estimands silently diverge whenever
    heavy users differ from light ones, and the SE treats USERS as the
    independent units (the correct clustering for per-user metrics).
    One combinable groupBy(group, user) collapse + one aggregate."""
    from htm_streamer_spark.operators.dependence import ratio_metric

    e = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    return ratio_metric(e, "event_type", "user_id", "value", F.lit(1.0))


SQL_RATIO_METRIC = """
WITH ent AS (
  SELECT event_type, user_id,
         sum(value::DOUBLE) AS n, sum(1.0) AS d
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
),
agg AS (
  SELECT event_type,
         count(*)::DOUBLE AS e,
         sum(n) AS sn, sum(d) AS sd,
         sum(n * n) AS snn, sum(d * d) AS sdd, sum(n * d) AS snd,
         avg(CASE WHEN d != 0 THEN n / d END) AS rm
  FROM ent GROUP BY 1
),
fin AS (
  SELECT event_type, e, sn, sd, rm, sn / sd AS r,
         (snn - sn * sn / e) / (e - 1) AS var_n,
         (sdd - sd * sd / e) / (e - 1) AS var_d,
         (snd - sn * sd / e) / (e - 1) AS cov
  FROM agg
)
SELECT event_type, e::BIGINT AS n_entities,
       CASE WHEN sd != 0 THEN round(r + 1e-9, 6) + 0.0 END AS r_sums,
       round(rm + 1e-9, 6) + 0.0 AS r_means,
       CASE WHEN e > 1 AND sd != 0
            THEN round(sqrt(greatest(var_n - 2*r*cov + r*r*var_d, 0.0))
                       / ((sd / e) * sqrt(e)) + 1e-9, 6) + 0.0
       END AS se_delta
FROM fin
"""


def q_feature_relevance_events(spark, sf_dir):
    """Mutual-information relevance ranking of three derived
    categorical features (hour-of-day, day-of-week, props.k quartile
    band) against the event_type label, all in ONE scan
    (operators/dependence.py feature_relevance): the many-feature
    ranking form of mi_events — stack unpivots map-side, one
    groupBy(feature, x, y) shuffle, marginals from the persisted
    cells."""
    from htm_streamer_spark.operators.dependence import feature_relevance

    e = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("label"),
        F.hour("ts").alias("hour_of_day"),
        F.dayofweek("ts").alias("dow"),
        (
            F.floor(
                F.expr("try_cast(get_json_object(props, '$.k') AS INT)") / 25
            )
        ).alias("k_band"),
    )
    return feature_relevance(e, "label", ["hour_of_day", "dow", "k_band"])


SQL_FEATURE_RELEVANCE = """
WITH long AS (
  SELECT f, x, event_type AS y FROM (
    SELECT event_type,
           'hour_of_day' AS f, extract(hour FROM ts)::VARCHAR AS x
    FROM events
    UNION ALL
    SELECT event_type, 'dow',
           (extract(dow FROM ts) + 1)::VARCHAR  -- Spark dayofweek: Sun=1
    FROM events
    UNION ALL
    SELECT event_type, 'k_band',
           floor(try_cast(json_extract_string(props, '$.k') AS INT) / 25)::BIGINT::VARCHAR
    FROM events
  )
  WHERE x IS NOT NULL AND event_type IS NOT NULL
),
cells AS (SELECT f, x, y, count(*)::DOUBLE AS c FROM long GROUP BY 1, 2, 3),
tot AS (SELECT f, sum(c) AS n FROM cells GROUP BY 1),
mx AS (SELECT f, x, sum(c) AS cx FROM cells GROUP BY 1, 2),
my AS (SELECT f, y, sum(c) AS cy FROM cells GROUP BY 1, 2),
per AS (
  SELECT cells.f, tot.n,
         (c / n) * ln((c / n) / ((cx / n) * (cy / n))) AS mi_c,
         -(c / n) * ln(cx / n) AS hx_c,
         -(c / n) * ln(cy / n) AS hy_c
  FROM cells JOIN mx USING (f, x) JOIN my USING (f, y) JOIN tot USING (f)
),
agg AS (
  SELECT f, any_value(n)::BIGINT AS n_rows, count(*)::BIGINT AS n_cells,
         sum(hx_c) AS shx, sum(hy_c) AS shy, sum(mi_c) AS smi
  FROM per GROUP BY 1
)
SELECT f AS feature, n_rows, n_cells,
       round(shx + 1e-9, 6) + 0.0 AS h_feature,
       round(shy + 1e-9, 6) + 0.0 AS h_label,
       round(smi + 1e-9, 6) + 0.0 AS mi,
       CASE WHEN shx > 0 AND shy > 0
            THEN round(smi / sqrt(shx * shy) + 1e-9, 6) + 0.0 END AS nmi
FROM agg
"""


def q_kappa_lang_docs(spark, sf_dir):
    """Cohen's kappa between the n-gram lang-id prediction and the
    corpus' ground-truth lang column (operators/agreement.py
    cohens_kappa): chance-corrected labeler accuracy — raw agreement
    flatters any predictor on this 70%-en mix; kappa subtracts what
    the marginals alone would score. One groupBy(pred, truth) cell
    shuffle; marginals/diagonal derive from the persisted cells."""
    from htm_streamer_spark.operators.agreement import cohens_kappa
    from htm_streamer_spark.operators.textstats import lang_id

    d = _t(spark, sf_dir, "documents")
    j = lang_id(d, keep_cols=("lang",))  # truth rides the same scan
    return cohens_kappa(j, "lang_pred", "lang")


SQL_KAPPA_LANG = f"""
WITH s AS (
  SELECT doc_id, lang,
         {_sql_marker_score('de')} AS s_de,
         {_sql_marker_score('en')} AS s_en,
         {_sql_marker_score('es')} AS s_es,
         {_sql_marker_score('fr')} AS s_fr
  FROM documents
),
pred AS (
  SELECT lang AS b,
         CASE WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
              WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
              WHEN s_en >= s_de THEN 'en'
              ELSE 'de' END AS a
  FROM s
),
cells AS (SELECT a, b, count(*)::DOUBLE AS c FROM pred
          WHERE a IS NOT NULL AND b IS NOT NULL GROUP BY 1, 2),
ma AS (SELECT a, sum(c) AS ca FROM cells GROUP BY 1),
mb AS (SELECT b, sum(c) AS cb FROM cells GROUP BY 1),
pe AS (SELECT sum(ma.ca * mb.cb) AS spp FROM ma JOIN mb ON ma.a = mb.b),
ncat AS (
  SELECT count(DISTINCT l)::BIGINT AS n_categories
  FROM (SELECT a AS l FROM cells UNION ALL SELECT b FROM cells)
),
tot AS (SELECT sum(c) AS n,
               sum(CASE WHEN a = b THEN c END) AS diag
        FROM cells)
SELECT tot.n::BIGINT AS n_rows, ncat.n_categories,
       round(coalesce(tot.diag, 0.0) / tot.n + 1e-9, 6) + 0.0 AS po,
       round(coalesce(pe.spp, 0.0) / (tot.n * tot.n) + 1e-9, 6) + 0.0 AS pe,
       CASE WHEN coalesce(pe.spp, 0.0) / (tot.n * tot.n) < 1.0
            THEN round((coalesce(tot.diag, 0.0) / tot.n
                        - coalesce(pe.spp, 0.0) / (tot.n * tot.n))
                       / (1.0 - coalesce(pe.spp, 0.0) / (tot.n * tot.n))
                       + 1e-9, 6) + 0.0 END AS kappa
FROM tot CROSS JOIN pe CROSS JOIN ncat
"""


def q_calibration_events(spark, sf_dir):
    """Reliability-diagram cells per event_type: the within-group
    percent_rank of value as a [0,1] score against the high-k label
    (props.k >= 50) — the CALIBRATION readout the AUC battery
    (roc_auc_events, same score/label pair) cannot give, since AUC is
    invariant to monotone rescaling (operators/agreement.py
    calibration_bins). One rank window + one groupBy(group, bin)."""
    from htm_streamer_spark.operators.agreement import calibration_bins

    e = _t(spark, sf_dir, "events")
    lab = F.expr("try_cast(get_json_object(props, '$.k') AS INT) >= 50")
    w = Window.partitionBy("event_type").orderBy("value")
    scored = e.where(F.col("value").isNotNull()).select(
        "event_type", F.percent_rank().over(w).alias("score"), lab.alias("y")
    )
    return calibration_bins(
        scored, "event_type", F.col("score"), F.col("y"), n_bins=10
    )


SQL_CALIBRATION_EVENTS = """
WITH scored AS (
  SELECT event_type,
         percent_rank() OVER (PARTITION BY event_type ORDER BY value) AS s,
         (try_cast(json_extract_string(props, '$.k') AS INT) >= 50) AS y
  FROM events WHERE value IS NOT NULL
),
binned AS (
  SELECT event_type,
         least(greatest(floor(s * 10)::INT, 0), 9) AS bin, s, y
  FROM scored WHERE y IS NOT NULL
)
SELECT event_type, bin,
       count(*)::BIGINT AS n_rows,
       round(avg(s) + 1e-9, 6) + 0.0 AS mean_score,
       round(avg(CASE WHEN y THEN 1.0 ELSE 0.0 END) + 1e-9, 6) + 0.0 AS frac_pos,
       round(abs(avg(s) - avg(CASE WHEN y THEN 1.0 ELSE 0.0 END)) + 1e-9, 6)
         + 0.0 AS abs_gap
FROM binned GROUP BY 1, 2
"""


def q_stuck_runs_events(spark, sf_dir):
    """Per-user gaps-and-islands over the event_type stream
    (operators/agreement.py longest_runs): how many runs of
    consecutive equal types, the longest streak and its value — the
    stuck-producer validator the Wald–Wolfowitz runs TEST
    (runs_test_events) summarizes into one z but never names. One
    per-group ordered window (lag + running change count) + a
    combinable per-run count + max_by argmax."""
    from htm_streamer_spark.operators.agreement import longest_runs

    e = _t(spark, sf_dir, "events")
    return longest_runs(e, "user_id", "event_type", ["ts", "event_id"])


SQL_STUCK_RUNS = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type AS v,
         CASE WHEN event_type IS DISTINCT FROM lag(event_type)
                OVER (PARTITION BY user_id ORDER BY ts, event_id)
              THEN 1 ELSE 0 END AS chg
  FROM events
),
runs AS (
  SELECT user_id, v,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rid
  FROM flagged
),
per_run AS (
  SELECT user_id, rid, any_value(v) AS v, count(*)::BIGINT AS l
  FROM runs GROUP BY 1, 2
),
sel AS (
  SELECT user_id, l, v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY l DESC, rid ASC) AS rn
  FROM per_run
),
agg AS (
  SELECT user_id, sum(l)::BIGINT AS n_rows, count(*)::BIGINT AS n_runs,
         avg(l) AS mean_len
  FROM per_run GROUP BY 1
)
SELECT a.user_id, a.n_rows, a.n_runs,
       s.l::BIGINT AS longest_run,
       s.v AS longest_run_value,
       round(a.mean_len + 1e-9, 6) + 0.0 AS mean_run_len
FROM agg a JOIN sel s ON s.user_id = a.user_id AND s.rn = 1
"""


def q_gumbel_maxima_events(spark, sf_dir):
    """Per-event_type Gumbel (EV-I) fit over DAILY BLOCK MAXIMA of
    value with 30- and 365-day return levels (operators/extremes.py
    gumbel_maxima): Fisher–Tippett block-maxima EVT — the capacity-
    planning complement to hill_tail's tail exponent. Method-of-
    moments fit from power sums; one combinable groupBy(group, day)
    max collapses the fact table, the fit is one aggregate over it."""
    from htm_streamer_spark.operators.extremes import gumbel_maxima

    e = _t(spark, sf_dir, "events")
    return gumbel_maxima(e, "event_type", "ts", "value", bucket="day")


SQL_GUMBEL_MAXIMA = """
WITH blocks AS (
  SELECT event_type, date_trunc('day', ts) AS b, max(value::DOUBLE) AS m
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
),
agg AS (
  SELECT event_type, count(*)::BIGINT AS n_blocks,
         sum(m) AS s1, sum(m * m) AS s2, max(m) AS mx
  FROM blocks GROUP BY 1
),
fit AS (
  SELECT event_type, n_blocks, s1 / n_blocks AS mean, mx,
         sqrt(greatest((s2 - s1 * s1 / n_blocks) / (n_blocks - 1), 0.0))
           * sqrt(6.0) / pi() AS scale
  FROM agg
),
fin AS (
  SELECT event_type, n_blocks, mean, mx, scale,
         mean - 0.57721566490153286554 * scale AS loc
  FROM fit
)
SELECT event_type, n_blocks,
       round(mean + 1e-9, 6) + 0.0 AS block_max_mean,
       CASE WHEN n_blocks >= 3 THEN round(loc + 1e-9, 6) + 0.0 END AS loc,
       CASE WHEN n_blocks >= 3 THEN round(scale + 1e-9, 6) + 0.0 END AS scale,
       CASE WHEN n_blocks >= 3
            THEN round(loc - scale * ln(-ln(1.0 - 1.0/30.0)) + 1e-9, 6) + 0.0
       END AS rl_lo,
       CASE WHEN n_blocks >= 3
            THEN round(loc - scale * ln(-ln(1.0 - 1.0/365.0)) + 1e-9, 6) + 0.0
       END AS rl_hi,
       round(mx + 1e-9, 6) + 0.0 AS max_observed
FROM fin
"""


def q_sprt_events(spark, sf_dir):
    """Wald SPRT per event_type over the time-ordered elevated-value
    flag stream (value > 90, ~16% base rate), H0 p=0.10 vs H1 p=0.20,
    alpha = beta = 0.05 (operators/stattests.py sprt_bernoulli): the
    sequential-DECISION member of the monitoring family — CUSUM/
    Page-Hinkley locate a change, SPRT accepts a named hypothesis with
    guaranteed error rates at the earliest possible stopping step.
    One per-group ordered window builds the running llr; the first
    boundary crossing is a combinable min_by aggregate."""
    from htm_streamer_spark.operators.stattests import sprt_bernoulli

    e = _t(spark, sf_dir, "events")
    return sprt_bernoulli(
        e,
        "event_type",
        "ts",
        F.col("value") > 90.0,
        p0=0.10,
        p1=0.20,
        alpha=0.05,
        beta=0.05,
        order_cols=("event_id",),
    )


SQL_SPRT_EVENTS = """
WITH base AS (
  SELECT event_type, ts, event_id,
         CASE WHEN value > 90.0 THEN 1.0 ELSE 0.0 END AS x
  FROM events
),
run AS (
  SELECT event_type, x,
         row_number() OVER w AS i,
         sum(x * ln(0.20 / 0.10) + (1.0 - x) * ln(0.80 / 0.90))
           OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llr
  FROM base
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
),
marked AS (
  SELECT event_type, x, i, llr,
         CASE WHEN llr >= ln(0.95 / 0.05) THEN 'accept_h1'
              WHEN llr <= ln(0.05 / 0.95) THEN 'accept_h0' END AS d
  FROM run
),
agg AS (
  SELECT event_type,
         count(*)::BIGINT AS n_rows,
         sum(x)::BIGINT AS n_flagged,
         max_by(llr, i) AS llr_final,
         min(CASE WHEN d IS NOT NULL THEN i END) AS step_at,
         min_by(d, CASE WHEN d IS NOT NULL THEN i END) AS dec,
         min_by(llr, CASE WHEN d IS NOT NULL THEN i END) AS llr_at
  FROM marked GROUP BY 1
)
SELECT event_type, n_rows, n_flagged,
       round(llr_final + 1e-9, 6) + 0.0 AS llr_final,
       coalesce(dec, 'continue') AS decision,
       step_at::BIGINT AS step_at,
       round(llr_at + 1e-9, 6) + 0.0 AS llr_at
FROM agg
"""


def q_wilson_events(spark, sf_dir):
    """Per-event_type elevated-value rate (value > 90) with the Wilson
    score interval and a two-proportion z-test against the pooled rest
    (operators/stattests.py wilson_proportions): the inferential twin
    of a plain rate column — "is this feed's rate actually different
    given its n". ONE groupBy collapses the fact table; rest-rates
    derive from broadcast totals, no second scan."""
    from htm_streamer_spark.operators.stattests import wilson_proportions

    e = _t(spark, sf_dir, "events")
    return wilson_proportions(e, "event_type", F.col("value") > 90.0)


SQL_WILSON_EVENTS = """
WITH cells AS (
  SELECT event_type, count(*)::DOUBLE AS n,
         sum(CASE WHEN value > 90.0 THEN 1.0 ELSE 0.0 END) AS k
  FROM events WHERE (value > 90.0) IS NOT NULL
  GROUP BY 1
),
tot AS (SELECT sum(n) AS tn, sum(k) AS tk FROM cells),
calc AS (
  SELECT c.event_type, c.n, c.k, c.k / c.n AS p,
         1.959963984540054 AS z,
         tot.tn - c.n AS nr,
         (tot.tk - c.k) / nullif(tot.tn - c.n, 0) AS pr,
         tot.tk / tot.tn AS pp
  FROM cells c CROSS JOIN tot
),
fin AS (
  SELECT event_type, n, k, p, nr, pr, pp,
         (p + z*z/(2*n)) / (1 + z*z/n) AS center,
         z * sqrt(p*(1-p)/n + z*z/(4*n*n)) / (1 + z*z/n) AS half,
         CASE WHEN nr > 0 AND pp > 0 AND pp < 1
              THEN (p - pr) / sqrt(pp*(1-pp)*(1/n + 1/nr)) END AS zvr
  FROM calc
)
SELECT event_type, n::BIGINT AS n_rows, k::BIGINT AS n_flagged,
       round(p + 1e-9, 6) + 0.0 AS rate,
       round(greatest(center - half, 0.0) + 1e-9, 6) + 0.0 AS wilson_lo,
       round(least(center + half, 1.0) + 1e-9, 6) + 0.0 AS wilson_hi,
       round(zvr + 1e-9, 6) + 0.0 AS z_vs_rest
FROM fin
"""


def q_diversity_docs(spark, sf_dir):
    """Per-source Hill-number diversity profile D0/D1/D2 + Pielou
    evenness (operators/lm.py diversity_profile): effective-vocabulary
    numbers whose D0-vs-D1/D2 gap separates long-tail junk minting
    from genuine breadth — TTR and Chao1 can't. D1 doubles as the
    source's unigram perplexity (tokenizer-budget comparable). One
    tokenizing scan → vocabulary-sized tf frame → one aggregate."""
    from htm_streamer_spark.operators.lm import diversity_profile

    d = _t(spark, sf_dir, "documents")
    return diversity_profile(d, "source")


SQL_DIVERSITY_DOCS = r"""
WITH toks AS (
  SELECT source, t.term
  FROM documents,
       LATERAL (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term) t
  WHERE t.term <> ''
),
tf AS (SELECT source, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
tot AS (SELECT source, sum(tf) AS tot FROM tf GROUP BY 1),
agg AS (
  SELECT tf.source,
         sum(tf.tf)::BIGINT AS n_tokens,
         count(*)::BIGINT AS d0,
         sum(-(tf.tf / tot.tot) * ln(tf.tf / tot.tot)) AS sh,
         sum((tf.tf / tot.tot) * (tf.tf / tot.tot)) AS sp2
  FROM tf JOIN tot USING (source) GROUP BY 1
)
SELECT source, n_tokens, d0,
       round(exp(sh) + 1e-9, 6) + 0.0 AS d1,
       round(1.0 / sp2 + 1e-9, 6) + 0.0 AS d2,
       round(sh + 1e-9, 6) + 0.0 AS shannon,
       CASE WHEN d0 > 1 THEN round(sh / ln(d0) + 1e-9, 6) + 0.0 END AS pielou_j
FROM agg
"""


def q_tukey_fences_events(spark, sf_dir):
    """Per-event_type Tukey box-plot fences and outlier counts over
    value (operators/extremes.py tukey_fences): the quartile member of
    the outlier family — distribution-agnostic bounds with a 25%
    breakdown point, vs ESD's Gaussian-bulk row verdicts. Exact type-7
    quartiles (Spark percentile == DuckDB quantile_cont); ONE
    persisted narrow frame feeds quartiles + the broadcast-joined
    fence-count pass."""
    from htm_streamer_spark.operators.extremes import tukey_fences

    e = _t(spark, sf_dir, "events")
    return tukey_fences(e, "event_type", "value", k=1.5)


SQL_TUKEY_FENCES = """
WITH base AS (
  SELECT event_type, value::DOUBLE AS x FROM events WHERE value IS NOT NULL
),
quart AS (
  SELECT event_type, count(*)::BIGINT AS n_rows,
         quantile_cont(x, 0.25) AS q1, quantile_cont(x, 0.75) AS q3
  FROM base GROUP BY 1
),
fences AS (
  SELECT event_type, n_rows, q1, q3,
         q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
  FROM quart
),
counted AS (
  SELECT f.event_type, any_value(f.n_rows) AS n_rows,
         any_value(f.q1) AS q1, any_value(f.q3) AS q3,
         any_value(f.lo) AS lo, any_value(f.hi) AS hi,
         sum(CASE WHEN b.x < f.lo THEN 1 ELSE 0 END)::BIGINT AS n_below,
         sum(CASE WHEN b.x > f.hi THEN 1 ELSE 0 END)::BIGINT AS n_above
  FROM base b JOIN fences f USING (event_type)
  GROUP BY 1
)
SELECT event_type, n_rows,
       round(q1 + 1e-9, 6) + 0.0 AS q1,
       round(q3 + 1e-9, 6) + 0.0 AS q3,
       round(q3 - q1 + 1e-9, 6) + 0.0 AS iqr,
       round(lo + 1e-9, 6) + 0.0 AS lo_fence,
       round(hi + 1e-9, 6) + 0.0 AS hi_fence,
       n_below, n_above,
       round((n_below + n_above) / n_rows::DOUBLE + 1e-9, 6) + 0.0 AS pct_out
FROM counted
"""


def q_hellinger_sources_docs(spark, sf_dir):
    """Pairwise Hellinger distance + Bhattacharyya coefficient between
    per-source unigram distributions (operators/infotheory.py
    hellinger_sources): the METRIC member of the divergence battery —
    JSD is smooth but not a metric; Hellinger's triangle inequality is
    what mixture curation needs when source distances feed clustering
    or triangle-pruned search. Terms on one side contribute 0 to BC,
    so the only pairwise work is an equi-self-join of the vocabulary-
    sized distribution frame on term; one tokenizing scan."""
    from htm_streamer_spark.operators.infotheory import hellinger_sources

    d = _t(spark, sf_dir, "documents")
    return hellinger_sources(d, "source")


SQL_HELLINGER_SOURCES = r"""
WITH toks AS (
  SELECT source, t.term
  FROM documents,
       LATERAL (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term) t
  WHERE t.term <> ''
),
tf AS (SELECT source, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
tot AS (SELECT source, sum(tf)::DOUBLE AS tot FROM tf GROUP BY 1),
dist AS (
  SELECT tf.source, tf.term, tf.tf / tot.tot AS p
  FROM tf JOIN tot USING (source)
),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
         count(*)::BIGINT AS n_shared_terms,
         sum(sqrt(a.p * b.p)) AS bc
  FROM dist a JOIN dist b ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2
),
srcs AS (SELECT DISTINCT source FROM dist),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b
  FROM srcs a JOIN srcs b ON a.source < b.source
)
SELECT p.source_a, p.source_b,
       coalesce(s.n_shared_terms, 0)::BIGINT AS n_shared_terms,
       round(coalesce(s.bc, 0.0) + 1e-9, 6) + 0.0 AS bc,
       round(sqrt(1.0 - least(coalesce(s.bc, 0.0), 1.0)) + 1e-9, 6) + 0.0
         AS hellinger,
       CASE WHEN coalesce(s.bc, 0.0) > 0
            THEN round(-ln(s.bc) + 1e-9, 6) + 0.0 END AS bhattacharyya
FROM pairs p LEFT JOIN shared s USING (source_a, source_b)
"""


def q_cramers_v_events(spark, sf_dir):
    """Chi-square independence + Cramér's V effect size between
    event_type and hour-of-day (operators/infotheory.py cramers_v):
    the bounded 0..1 effect size mutual information lacks a ceiling
    for, with the Bergsma bias-corrected variant. Zero-observed grid
    cells collapse analytically (chi2 = sum o²/e − n), so only the
    observed-cell frame is materialized — one groupBy(x,y) shuffle,
    marginals derived from the persisted cell frame, one fact scan."""
    from htm_streamer_spark.operators.infotheory import cramers_v

    e = _t(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hour_of_day")
    )
    return cramers_v(e, "event_type", "hour_of_day")


SQL_CRAMERS_V = """
WITH cells AS (
  SELECT event_type AS x, extract(hour FROM ts)::INT AS y,
         count(*)::DOUBLE AS c
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2
),
mx AS (SELECT x, sum(c) AS cx FROM cells GROUP BY 1),
my AS (SELECT y, sum(c) AS cy FROM cells GROUP BY 1),
tot AS (SELECT sum(c) AS n,
               count(DISTINCT x)::DOUBLE AS r,
               count(DISTINCT y)::DOUBLE AS k
        FROM cells),
agg AS (
  SELECT any_value(tot.n) AS n, any_value(tot.r) AS r, any_value(tot.k) AS k,
         sum(c.c * c.c / (mx.cx * my.cy / tot.n)) AS s
  FROM cells c JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
),
fin AS (
  SELECT n, r, k, s - n AS chi2,
         greatest(s - n, 0.0) / n AS phi2,
         (r - 1) * (k - 1) / (n - 1) AS corr,
         r - (r - 1) * (r - 1) / (n - 1) AS rc,
         k - (k - 1) * (k - 1) / (n - 1) AS kc
  FROM agg
)
SELECT n::BIGINT AS n_rows, r::BIGINT AS n_x, k::BIGINT AS n_y,
       ((r - 1) * (k - 1))::BIGINT AS dof,
       round(chi2 + 1e-9, 6) + 0.0 AS chi2,
       CASE WHEN least(r, k) > 1
            THEN round(sqrt(greatest(chi2, 0.0) / (n * (least(r, k) - 1)))
                       + 1e-9, 6) + 0.0 END AS v,
       CASE WHEN n > 1 AND least(rc, kc) - 1 > 0
            THEN round(sqrt(greatest(phi2 - corr, 0.0) / (least(rc, kc) - 1))
                       + 1e-9, 6) + 0.0 END AS v_corrected
FROM fin
"""


def q_esd_outliers_events(spark, sf_dir):
    """Iterative extreme-studentized-deviate outlier peeling, 3 rounds
    (operators/extremes.py esd_peel, the Rosner 1983 mechanic): each
    round names and removes the single most extreme row by
    |x - mean|/sd with moments recomputed on the survivors — the
    masking-proof row-level outlier verdict the population drift gates
    can't give (reference role: per-row anomaly score,
    htm_streamer/model.py). Plan: ONE persisted narrow frame; each
    round is a combinable power-sum agg + a max_by argmax (no sort
    window) + a broadcast anti-join of the <=n_groups removed ids."""
    from htm_streamer_spark.operators.extremes import esd_peel

    e = _t(spark, sf_dir, "events")
    return esd_peel(e, "event_type", "event_id", "value", rounds=3, z_crit=3.0)


SQL_ESD_OUTLIERS = """
WITH base AS (
  SELECT event_type, event_id AS id, value::DOUBLE AS x
  FROM events WHERE value IS NOT NULL
),
a1 AS (SELECT event_type, count(*)::BIGINT AS n, sum(x) AS s1, sum(x*x) AS s2
       FROM base GROUP BY 1),
p1 AS (
  SELECT b.event_type, b.id, b.x, a.n,
         abs(b.x - a.s1/a.n) AS dev,
         sqrt(greatest((a.s2 - a.s1*a.s1/a.n)/(a.n-1), 0.0)) AS sd,
         row_number() OVER (PARTITION BY b.event_type
                            ORDER BY round(abs(b.x - a.s1/a.n), 9) DESC, b.id) AS rn
  FROM base b JOIN a1 a USING (event_type) WHERE a.n >= 3
),
o1 AS (SELECT event_type, 1 AS round, n AS n_before, id AS out_id, x AS out_value,
              CASE WHEN sd > 0 THEN round(dev/sd + 1e-9, 6) + 0.0 END AS r_stat
       FROM p1 WHERE rn = 1),
b2 AS (SELECT b.* FROM base b LEFT JOIN o1
       ON o1.event_type = b.event_type AND o1.out_id = b.id
       WHERE o1.out_id IS NULL),
a2 AS (SELECT event_type, count(*)::BIGINT AS n, sum(x) AS s1, sum(x*x) AS s2
       FROM b2 GROUP BY 1),
p2 AS (
  SELECT b.event_type, b.id, b.x, a.n,
         abs(b.x - a.s1/a.n) AS dev,
         sqrt(greatest((a.s2 - a.s1*a.s1/a.n)/(a.n-1), 0.0)) AS sd,
         row_number() OVER (PARTITION BY b.event_type
                            ORDER BY round(abs(b.x - a.s1/a.n), 9) DESC, b.id) AS rn
  FROM b2 b JOIN a2 a USING (event_type) WHERE a.n >= 3
),
o2 AS (SELECT event_type, 2 AS round, n AS n_before, id AS out_id, x AS out_value,
              CASE WHEN sd > 0 THEN round(dev/sd + 1e-9, 6) + 0.0 END AS r_stat
       FROM p2 WHERE rn = 1),
b3 AS (SELECT b.* FROM b2 b LEFT JOIN o2
       ON o2.event_type = b.event_type AND o2.out_id = b.id
       WHERE o2.out_id IS NULL),
a3 AS (SELECT event_type, count(*)::BIGINT AS n, sum(x) AS s1, sum(x*x) AS s2
       FROM b3 GROUP BY 1),
p3 AS (
  SELECT b.event_type, b.id, b.x, a.n,
         abs(b.x - a.s1/a.n) AS dev,
         sqrt(greatest((a.s2 - a.s1*a.s1/a.n)/(a.n-1), 0.0)) AS sd,
         row_number() OVER (PARTITION BY b.event_type
                            ORDER BY round(abs(b.x - a.s1/a.n), 9) DESC, b.id) AS rn
  FROM b3 b JOIN a3 a USING (event_type) WHERE a.n >= 3
),
o3 AS (SELECT event_type, 3 AS round, n AS n_before, id AS out_id, x AS out_value,
              CASE WHEN sd > 0 THEN round(dev/sd + 1e-9, 6) + 0.0 END AS r_stat
       FROM p3 WHERE rn = 1),
allr AS (SELECT * FROM o1 UNION ALL SELECT * FROM o2 UNION ALL SELECT * FROM o3)
SELECT event_type, round::INT AS round, n_before, out_id, out_value, r_stat,
       (CASE WHEN r_stat > 3.0 THEN 1 ELSE 0 END)::INT AS exceeds
FROM allr
"""


def q_hill_tail_events(spark, sf_dir):
    """Hill (1975) tail-index estimate per event_type over the
    positive value column, k=100 (operators/extremes.py hill_tail):
    alpha = 1/H from the top-k order statistics — the tail-EXPONENT
    validator that flags a developing pathological long tail before
    the mean moves, complementing the head-reading Zipf fit
    (operators/lm.py). Plan: pushed-down positivity filter, ONE
    per-group sort window carrying both row_number and the partition
    count, persisted top-(k+1) slice feeds x_(k+1) + the log-ratio
    mean (broadcast join, metadata-scale)."""
    from htm_streamer_spark.operators.extremes import hill_tail

    e = _t(spark, sf_dir, "events")
    return hill_tail(e, "event_type", "value", k=100)


SQL_HILL_TAIL = """
WITH pos AS (SELECT event_type, value::DOUBLE AS x FROM events WHERE value > 0),
ranked AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type ORDER BY x DESC) AS rn,
         count(*) OVER (PARTITION BY event_type) AS np
  FROM pos
),
xk1 AS (SELECT event_type, x AS xk1 FROM ranked WHERE rn = 101),
h AS (SELECT r.event_type, avg(ln(r.x / k.xk1)) AS h
      FROM ranked r JOIN xk1 k USING (event_type) WHERE r.rn <= 100 GROUP BY 1),
np AS (SELECT event_type, max(np)::BIGINT AS n_pos FROM ranked GROUP BY 1)
SELECT np.event_type, np.n_pos,
       round(h.h + 1e-9, 6) + 0.0 AS hill_h,
       CASE WHEN h.h > 0 THEN round(1.0/h.h + 1e-9, 6) + 0.0 END AS alpha,
       CASE WHEN h.h > 0 THEN round(1.0/h.h/sqrt(100.0) + 1e-9, 6) + 0.0 END AS se
FROM np LEFT JOIN h USING (event_type)
"""


def _kmv_gram_items(spark, sf_dir):
    """(source, item): exploded 3-gram shingles of normalized text —
    the same shingle space as the dedup/contamination family, so the
    KMV estimates are commensurable with the exact overlap matrix."""
    from htm_streamer_spark.operators.dedup import (
        _gram_array,
        fan_out_narrow_scans,
        normalized_text,
    )

    d = _t(spark, sf_dir, "documents")
    # the per-gram md5 in the KMV sketch inherits the scan's split
    # count — fan the narrow (source, text) projection out so a
    # single-row-group file does not serialize ~50 hashes/doc onto one
    # core (guide §2.5; no-op at real scale). The word array is
    # materialized in its own projection first: _gram_array references
    # its input n+1 times and higher-order functions are interpreted,
    # so an inline split+regexp would be re-evaluated per reference
    # (measured 3.5x on the sf1-scale corpus).
    return (
        fan_out_narrow_scans(d.select("source", "text"))
        .select(
            "source",
            F.split(normalized_text(F.col("text")), r"\s+").alias("_ws"),
        )
        .select("source", F.explode(_gram_array(F.col("_ws"), 3)).alias("item"))
    )


def q_cms_est_events(spark, sf_dir):
    """Count-Min frequency sketch (operators/cms.py): d=4 x w=512
    counters over events.user_id, read back for the exact top-20 users
    (rank by exact count, ties by user_id) — (user_id, exact_cnt, est)
    with est = min over the 4 seeded-md5 cells, never below exact_cnt.
    The FREQUENCY member of the sketch tier (KMV = distinct, Bloom =
    membership): additive counters merge across partitions (pinned in
    tests/test_cms.py). Build is one scan -> explode 4 positions ->
    map-side-combinable sum into <=2048 cells; the estimate join
    broadcasts the metadata-sized sketch. Deterministic md5-60bit
    positions make the DuckDB oracle a literal recompute."""
    from htm_streamer_spark.operators.cms import cms_estimate, cms_sketch

    ev = _t(spark, sf_dir, "events")
    sk = cms_sketch(ev, "user_id", d=4, w=512)
    # total order (cnt desc, user_id) + limit -> TakeOrderedAndProject:
    # per-partition top-20 then a 20-row merge, never a global window
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("user_id"))
        .limit(20)
    )
    return cms_estimate(sk, top, "user_id", d=4, w=512)


SQL_CMS_EST = r"""
WITH pos AS (
  SELECT user_id, t.i AS row_idx,
         (('0x'||substr(md5('cms'||t.i::VARCHAR||':'||user_id::VARCHAR),1,15))::BIGINT
          % 512) AS col_idx
  FROM events, unnest(generate_series(0,3)) AS t(i)
),
cells AS (
  SELECT row_idx, col_idx, count(*)::BIGINT AS cnt FROM pos GROUP BY 1, 2
),
top_users AS (
  SELECT user_id, count(*)::BIGINT AS exact_cnt
  FROM events GROUP BY 1
  QUALIFY row_number() OVER (ORDER BY count(*) DESC, user_id) <= 20
),
probe AS (
  SELECT u.user_id, t.i AS row_idx,
         (('0x'||substr(md5('cms'||t.i::VARCHAR||':'||u.user_id::VARCHAR),1,15))::BIGINT
          % 512) AS col_idx
  FROM top_users u, unnest(generate_series(0,3)) AS t(i)
)
SELECT u.user_id, u.exact_cnt,
       min(coalesce(c.cnt, 0))::BIGINT AS est
FROM top_users u
JOIN probe p ON p.user_id = u.user_id
LEFT JOIN cells c ON c.row_idx = p.row_idx AND c.col_idx = p.col_idx
GROUP BY 1, 2
"""


def q_kmv_distinct_docs(spark, sf_dir):
    """Per-source KMV bottom-k distinct-shingle estimate
    (operators/kmv.py kmv_sketch, k=256): the SKETCH tier of the
    distinct-count family — HLL (approx_distinct_docs) is opaque
    engine state, KMV is a deterministic, mergeable, ORACLE-RECOMPUTABLE
    synopsis ((k−1)/u_(k), rel. error ~1/√(k−2)) whose signature also
    feeds pairwise overlap (kmv_overlap_docs). One scan to the
    (source, hash) distinct collapse; the sort window runs on that
    collapse, never the fact table."""
    from htm_streamer_spark.operators.kmv import kmv_sketch

    return kmv_sketch(_kmv_gram_items(spark, sf_dir), "source", "item", k=256)


SQL_KMV_DISTINCT = r"""
WITH norm AS (
  SELECT source,
         regexp_split_to_array(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               '\s+') AS ws
  FROM documents
),
grams AS (
  SELECT source,
         unnest(list_transform(generate_series(1, greatest(len(ws)-2, 0)),
                               i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS item
  FROM norm
),
hashed AS (
  SELECT DISTINCT source, ('0x' || substr(md5(item), 1, 15))::BIGINT AS h
  FROM grams
),
ranked AS (
  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
  FROM hashed
),
agg AS (
  SELECT source, count(*)::BIGINT AS n_kept, max(h) AS hk
  FROM ranked WHERE rn <= 256 GROUP BY 1
)
SELECT source, n_kept,
       round((hk + 1.0) / 1152921504606846976.0 + 1e-9, 9) + 0.0 AS kth_u,
       round(CASE WHEN n_kept < 256 THEN n_kept::DOUBLE
                  ELSE 255.0 / ((hk + 1.0) / 1152921504606846976.0) END
             + 1e-9, 6) + 0.0 AS est_distinct
FROM agg
"""


def q_kmv_overlap_docs(spark, sf_dir):
    """Pairwise source Jaccard from KMV signatures (operators/kmv.py
    kmv_pairwise_jaccard): the members of the merged bottom-k are a
    uniform sample of A∪B, so the both-sides fraction estimates J —
    cross-source overlap WITHOUT the corpus-sized exact join
    (source_overlap_docs is the exact twin; this is what survives
    10^12 rows). Deterministic md5-60bit hashing makes the estimate
    itself oracle-recomputable, exactly. All pairwise frames are
    groups×k."""
    from htm_streamer_spark.operators.kmv import kmv_members, kmv_pairwise_jaccard

    m = kmv_members(_kmv_gram_items(spark, sf_dir), "source", "item", k=256)
    return kmv_pairwise_jaccard(m, "source", k=256)


SQL_KMV_OVERLAP = r"""
WITH norm AS (
  SELECT source,
         regexp_split_to_array(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               '\s+') AS ws
  FROM documents
),
grams AS (
  SELECT source,
         unnest(list_transform(generate_series(1, greatest(len(ws)-2, 0)),
                               i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS item
  FROM norm
),
hashed AS (
  SELECT DISTINCT source, ('0x' || substr(md5(item), 1, 15))::BIGINT AS h
  FROM grams
),
sig AS (
  SELECT source, h FROM (
    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM hashed
  ) WHERE rn <= 256
),
pairs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM (SELECT DISTINCT source FROM sig) a, (SELECT DISTINCT source FROM sig) b
  WHERE a.source < b.source
),
m AS (
  SELECT p.sa, p.sb, s.h,
         max(CASE WHEN s.source = p.sa THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN s.source = p.sb THEN 1 ELSE 0 END) AS in_b
  FROM pairs p JOIN sig s ON s.source IN (p.sa, p.sb)
  GROUP BY 1, 2, 3
),
topk AS (
  SELECT *, row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn FROM m
),
o AS (
  SELECT sa, sb, count(*)::BIGINT AS n_union_k,
         sum(in_a * in_b)::BIGINT AS n_both
  FROM topk WHERE rn <= 256 GROUP BY 1, 2
)
SELECT sa AS source_a, sb AS source_b, n_union_k, n_both,
       round(n_both / n_union_k::DOUBLE + 1e-9, 6) + 0.0 AS est_jaccard
FROM o
"""


def q_neyman_alloc_events(spark, sf_dir):
    """Neyman-optimal audit-budget allocation across event types
    (operators/sampling.py neyman_allocation, budget 1000): the
    variance-minimizing split n_h ∝ N_h·σ_h — big AND noisy strata get
    the deep-check budget, a huge-but-constant stratum gets ~none. The
    planning half of the sampling family (stratified_sample consumes
    the resulting fractions); largest-remainder integerization sums to
    the budget exactly and deterministically. One power-sum groupBy;
    allocation math on the |strata| frame."""
    from htm_streamer_spark.operators.sampling import neyman_allocation

    e = _t(spark, sf_dir, "events")
    return neyman_allocation(e, "event_type", "value", total_n=1000)


SQL_NEYMAN = """
WITH agg AS (
  SELECT event_type, count(value)::DOUBLE AS n,
         sum(value)::DOUBLE AS s, sum(value * value)::DOUBLE AS ss
  FROM events GROUP BY 1
),
sdt AS (
  SELECT event_type, n,
         CASE WHEN n > 1
              THEN sqrt(greatest((ss - s * s / n) / (n - 1), 0.0))
              ELSE 0.0 END AS sd
  FROM agg
),
sc AS (SELECT *, n * sd AS w, sum(n * sd) OVER () AS tw FROM sdt),
ex AS (SELECT *, CASE WHEN tw > 0 THEN w / tw END AS share FROM sc),
fl AS (
  SELECT *, floor(share * 1000) AS fl,
         share * 1000 - floor(share * 1000) AS rem
  FROM ex
),
rk AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, event_type) AS rnk,
         1000 - sum(fl) OVER () AS leftn
  FROM fl
)
SELECT event_type, n::BIGINT AS n_rows,
       round(sd + 1e-9, 6) + 0.0 AS sd,
       round(share + 1e-9, 6) + 0.0 AS alloc_share,
       CASE WHEN share IS NULL THEN NULL
            ELSE (fl + CASE WHEN rnk <= leftn THEN 1 ELSE 0 END) END::BIGINT
         AS n_alloc
FROM rk
"""


def q_mahalanobis_events(spark, sf_dir):
    """Per-row 2-D Mahalanobis outlier score of (value, props.k) vs the
    row's own event_type (operators/multivariate.py mahalanobis_2d):
    the MULTIVARIATE member of the outlier family — ESD/Tukey/MAD score
    one column at a time and miss the row that is in-band marginally
    but impossible JOINTLY (off the value↔payload correlation axis).
    d² ~ χ²(2) under normality; flag at the 99% cut (9.210). Plan: one
    scan, one combinable power-sum groupBy, closed-form 2×2 inverse as
    column math, broadcast stats join back, codegen'd score."""
    from htm_streamer_spark.operators.dedup import fan_out_narrow_scans
    from htm_streamer_spark.operators.multivariate import mahalanobis_2d

    # fan out the raw columns BELOW the JSON parse (guide §2.5)
    e = fan_out_narrow_scans(
        _t(spark, sf_dir, "events").select(
            "event_id", "event_type", "value", "props"
        )
    ).select(
        "event_id",
        "event_type",
        "value",
        F.get_json_object("props", "$.k").cast("double").alias("k"),
    )
    out = mahalanobis_2d(e, "event_type", "value", "k", id_col="event_id")
    return out.select(
        "event_id",
        "event_type",
        F.round(F.col("d2") + F.lit(1e-9), 6).alias("d2"),
        F.col("is_outlier").cast("int").alias("is_outlier"),
    )


SQL_MAHALANOBIS = """
WITH rows_ AS (
  SELECT event_id, event_type, value::DOUBLE AS x,
         CAST(json_extract_string(props, '$.k') AS DOUBLE) AS y
  FROM events
  WHERE value IS NOT NULL
    AND json_extract_string(props, '$.k') IS NOT NULL
),
st AS (
  SELECT event_type, count(*)::DOUBLE AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM rows_ GROUP BY 1
),
m AS (
  SELECT event_type,
         sx / n AS mx, sy / n AS my,
         sxx / n - (sx / n) * (sx / n) AS vx,
         syy / n - (sy / n) * (sy / n) AS vy,
         sxy / n - (sx / n) * (sy / n) AS cxy
  FROM st
),
d AS (
  SELECT event_type, mx, my, vx, vy, cxy,
         vx * vy - cxy * cxy AS det
  FROM m
)
SELECT r.event_id, r.event_type,
       CASE WHEN d.det > 1e-12 THEN
         round((d.vy * (r.x - d.mx) * (r.x - d.mx)
                - 2 * d.cxy * (r.x - d.mx) * (r.y - d.my)
                + d.vx * (r.y - d.my) * (r.y - d.my)) / (d.det + 1e-12)
               + 1e-9, 6) + 0.0
       END AS d2,
       CASE WHEN d.det > 1e-12 THEN
         CASE WHEN (d.vy * (r.x - d.mx) * (r.x - d.mx)
                - 2 * d.cxy * (r.x - d.mx) * (r.y - d.my)
                + d.vx * (r.y - d.my) * (r.y - d.my)) / (d.det + 1e-12)
                > 9.21034037197618 THEN 1 ELSE 0 END
       END::INT AS is_outlier
FROM rows_ r JOIN d USING (event_type)
"""


def q_weighted_quantiles_docs(spark, sf_dir):
    """Token-WEIGHTED doc-length quantiles per source
    (operators/mixing.py weighted_quantiles): the plain median says
    where half the DOCUMENTS are; the token-weighted median says where
    half the TRAINING TOKENS are — on a heavy-tailed corpus they
    differ wildly and budget decisions follow token mass. Lower
    weighted quantile (smallest value whose cumulative weight reaches
    q of the group total). Plan: one scan, one per-group sort window
    with the running mass, ONE conditional-min groupBy (no per-q
    fact-table fan-out), unpivot on the groups-sized frame."""
    from htm_streamer_spark.operators.mixing import weighted_quantiles
    from htm_streamer_spark.operators.textstats import token_count_col

    d = _t(spark, sf_dir, "documents").select(
        "source",
        F.col("n_chars").cast("double").alias("n_chars"),
        token_count_col("text").cast("double").alias("w_tokens"),
    )
    out = weighted_quantiles(d, "source", "n_chars", "w_tokens")
    return out.select(
        "source",
        "q",
        "wq",
        F.col("total_w").cast("long").alias("total_w"),
    )


SQL_WEIGHTED_QUANTILES = r"""
WITH rows_ AS (
  SELECT source, n_chars::DOUBLE AS v,
         (CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), '\s+')) END)::DOUBLE AS w
  FROM documents
  WHERE n_chars IS NOT NULL
),
pos AS (SELECT * FROM rows_ WHERE w > 0),
cum AS (
  SELECT source, v,
         sum(w) OVER (PARTITION BY source ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cw,
         sum(w) OVER (PARTITION BY source) AS tw
  FROM pos
),
per AS (
  SELECT source, max(tw) AS tw,
         min(CASE WHEN cw >= 0.25 * tw THEN v END) AS wq25,
         min(CASE WHEN cw >= 0.50 * tw THEN v END) AS wq50,
         min(CASE WHEN cw >= 0.75 * tw THEN v END) AS wq75
  FROM cum GROUP BY 1
)
SELECT source, 0.25 + 0.0 AS q, wq25 AS wq, round(tw + 1e-9, 6)::BIGINT AS total_w FROM per
UNION ALL
SELECT source, 0.50 + 0.0, wq50, round(tw + 1e-9, 6)::BIGINT FROM per
UNION ALL
SELECT source, 0.75 + 0.0, wq75, round(tw + 1e-9, 6)::BIGINT FROM per
"""


def q_freshness_events(spark, sf_dir):
    """Per-type freshness/staleness vs the corpus' own watermark
    (operators/profiling.py freshness): time_gaps finds holes INSIDE a
    feed's span — this finds the feed that silently STOPPED (its rows
    all validate; only its last_ts drifts from the watermark) and the
    feed whose last_ts stays fresh on a trickle while volume collapsed
    (recent_share). Watermark-relative, not now()-relative, so re-runs
    over the same snapshot reproduce the verdict. Plan: one scan
    aggregated to the (type, hour) grain; everything else derives from
    that metadata-sized frame."""
    from htm_streamer_spark.operators.profiling import freshness

    e = _t(spark, sf_dir, "events")
    out = freshness(e, "event_type", "ts", recent_hours=24)
    return out.select(
        "event_type",
        F.col("n_rows").cast("long").alias("n_rows"),
        "first_ts",
        "last_ts",
        "staleness_sec",
        F.col("n_recent").cast("long").alias("n_recent"),
        "recent_share",
    )


SQL_FRESHNESS = """
WITH cell AS (
  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n,
         min(ts) AS min_ts, max(ts) AS max_ts
  FROM events GROUP BY 1, 2
),
wm AS (SELECT max(max_ts) AS wm FROM cell),
agg AS (
  SELECT c.event_type,
         sum(c.n)::BIGINT AS n_rows,
         min(c.min_ts) AS first_ts,
         max(c.max_ts) AS last_ts,
         max(w.wm) AS wm,
         sum(CASE WHEN c.h > w.wm - INTERVAL 24 HOUR THEN c.n ELSE 0 END)::BIGINT
           AS n_recent
  FROM cell c, wm w GROUP BY 1
)
SELECT event_type, n_rows, first_ts, last_ts,
       round((epoch_us(wm) - epoch_us(last_ts)) / 1e6, 6) + 0.0 AS staleness_sec,
       n_recent,
       round(n_recent / n_rows::DOUBLE + 1e-9, 6) + 0.0 AS recent_share
FROM agg
"""


def q_fisher_drift_events(spark, sf_dir):
    """Fisher's method drift verdict (operators/stattests.py
    fisher_combine): per (event_type, weekday) two-sided z-test of the
    weekday's mean value against the type's own overall mean (variance
    from the type, same A&S erfc p as the BH/Holm battery), then the
    seven weekday p-values combine into ONE per-type evidence score
    X² = −2Σln p ~ χ²(2k). The meta-analysis complement of BH/Holm:
    those correct ACROSS tests, Fisher POOLS evidence within a group —
    seven weekdays each drifting mildly (p≈0.15, no per-test gate
    fires) jointly reject. Even-df closed-form survival
    exp(−x/2)·Σ(x/2)^j/j! keeps the oracle in ANSI SQL. Plan: one scan,
    one groupBy(event_type, weekday) power-sum aggregate; type totals
    derive from the cell frame by window (no second scan); Fisher is a
    groups-sized aggregate."""
    from htm_streamer_spark.operators.likelihood import erfc_expr
    from htm_streamer_spark.operators.stattests import fisher_combine

    from pyspark.sql import Window as W

    e = _t(spark, sf_dir, "events")
    cell = e.groupBy(
        "event_type", F.date_format("ts", "EEEE").alias("weekday")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("value").alias("s"),
        F.sum(F.col("value") * F.col("value")).alias("ss"),
    )
    w_t = W.partitionBy("event_type")
    mu = F.col("sg") / F.col("nn")
    var = F.col("ssg") / F.col("nn") - mu * mu
    z = (F.col("s") / F.col("n") - mu) / F.sqrt(var / F.col("n"))
    scored = (
        cell.withColumn("nn", F.sum("n").over(w_t))
        .withColumn("sg", F.sum("s").over(w_t))
        .withColumn("ssg", F.sum("ss").over(w_t))
        .withColumn(
            "p_value",
            F.least(
                erfc_expr(F.abs(z) / F.lit(1.4142135623730951)), F.lit(1.0)
            ),
        )
        .select("event_type", "weekday", "p_value")
    )
    out = fisher_combine(scored, "event_type")
    return out.select(
        "event_type",
        F.col("k").cast("long").alias("k"),
        F.round(F.col("fisher_x2") + F.lit(1e-9), 6).alias("fisher_x2"),
        F.round(F.col("p_combined") + F.lit(1e-9), 6).alias("p_combined"),
    )


SQL_FISHER_DRIFT = """
WITH cell AS (
  SELECT event_type, dayname(ts) AS weekday, count(*)::DOUBLE AS n,
         sum(value)::DOUBLE AS s, sum(value * value)::DOUBLE AS ss
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT event_type, sum(n) AS nn, sum(s) AS sg, sum(ss) AS ssg
  FROM cell GROUP BY 1
),
zc AS (
  SELECT c.event_type,
         (c.s / c.n - t.sg / t.nn)
           / sqrt((t.ssg / t.nn - (t.sg / t.nn) * (t.sg / t.nn)) / c.n) AS z
  FROM cell c JOIN tot t USING (event_type)
),
pv AS (
  SELECT event_type, x, 1.0 / (1.0 + 0.3275911 * x) AS t
  FROM (SELECT event_type, abs(z) / 1.4142135623730951 AS x FROM zc)
),
p AS (
  SELECT event_type,
         least(greatest(
           (t * (0.254829592 + t * (-0.284496736 + t * (1.421413741
              + t * (-1.453152027 + t * 1.061405429))))) * exp(-x * x),
           1e-300), 1.0) AS pval
  FROM pv
),
f AS (
  SELECT event_type, count(*)::BIGINT AS k, -2.0 * sum(ln(pval)) AS x2
  FROM p GROUP BY 1
),
srv AS (
  SELECT event_type, k, x2,
         CASE WHEN x2 <= 0 THEN 1.0
              ELSE least(exp(-x2 / 2) * list_sum(list_transform(
                     range(0, k::INT),
                     j -> exp(j * ln(x2 / 2.0) - lgamma(j + 1.0)))), 1.0)
         END AS pc
  FROM f
)
SELECT event_type, k,
       round(x2 + 1e-9, 6) + 0.0 AS fisher_x2,
       round(pc + 1e-9, 6) + 0.0 AS p_combined
FROM srv
"""


def q_compress_ratio_docs(spark, sf_dir):
    """Per-doc deflate compression ratio
    (operators/compressibility.py compression_stats): the Gopher /
    RefinedWeb redundancy signal — template-stitched text compresses
    far below prose, binary-ish payloads sit near 1.0 — catching
    long-range repetition the fixed-n dup_ngram operators can't see.
    Plan: ONE mapInArrow stage (the loop inside is pure dispatch into
    zlib's C deflate), blob column never shuffles, only the integer
    size columns leave the stage. Oracle = golden parquet (deflate is
    not SQL-recomputable; the SIZE is deterministic for a fixed zlib
    build — tools/make_goldens.py)."""
    from htm_streamer_spark.operators.compressibility import compression_stats

    docs = _t(spark, sf_dir, "documents")
    per = compression_stats(docs, keep_cols=("source",))
    return per.select("doc_id", "source", "n_bytes", "n_deflate", "ratio")


SQL_COMPRESS_RATIO_GOLDEN = (
    f"SELECT * FROM read_parquet('{GOLDEN_DIR}/compress_ratio_docs.sf0.01.parquet')"
)


def q_compress_profile_docs(spark, sf_dir):
    """Per-source compression-band profile over the same Arrow deflate
    pass: pooled ratio = sum(deflate)/sum(raw) from INTEGER sums (no
    float accumulation-order nondeterminism — the golden stays bit-
    stable across partitionings), plus counts below/above the curation
    band [0.30, 0.80]. The monitoring readout: a source whose pooled
    ratio drifts down is minting templated text; one drifting up is
    leaking compressed/binary payloads. One Arrow pass + one combinable
    aggregate."""
    from htm_streamer_spark.operators.compressibility import compression_stats

    docs = _t(spark, sf_dir, "documents")
    per = compression_stats(docs, keep_cols=("source",))
    r = F.col("ratio")
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").alias("sum_bytes"),
            F.sum("n_deflate").alias("sum_deflate"),
            F.count(F.when(r < 0.30, 1)).alias("n_below"),
            F.count(F.when(r > 0.80, 1)).alias("n_above"),
        )
        .select(
            "source",
            "n_docs",
            "sum_bytes",
            "sum_deflate",
            (F.col("sum_deflate") / F.col("sum_bytes")).alias("pooled_ratio"),
            "n_below",
            "n_above",
        )
    )


SQL_COMPRESS_PROFILE_GOLDEN = (
    f"SELECT * FROM read_parquet('{GOLDEN_DIR}/compress_profile_docs.sf0.01.parquet')"
)


def q_pagerank_embeddings(spark, sf_dir):
    """kNN-graph PageRank over the embedding space
    (operators/graph.py): each vector links to its 5 nearest neighbors
    by cosine (self excluded, ties by id); 10 damped power iterations
    rank every vector by how much of the corpus 'votes' for it through
    the neighbor graph — the representativeness prior data-curation
    pipelines use to pick prototypical examples and surface stray
    clusters (low-rank = nobody's neighbor). Deterministic: fixed
    iteration count, dangling mass redistributed uniformly, so the
    DuckDB oracle's recursive CTE reproduces the iterate exactly.

    Plan: one broadcast cross-score + per-query top-k window builds the
    edge frame ONCE (persisted); each iteration is a vertex-sized hash
    join + map-side-combinable sum — the rank frame never grows past
    |V| rows, lineage cut by localCheckpoint."""
    from htm_streamer_spark.operators.graph import knn_edges, pagerank
    from htm_streamer_spark.operators.similarity import brute_force_topk_arrow

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    # matmul form: exact same top-k as the expression baseline
    # (asserted in tests/test_graph.py) at BLAS speed — the 2000-query
    # edge build is the query's dominant cost, not the iterations
    topk = brute_force_topk_arrow(emb, queries_df, k=6)
    edges = knn_edges(topk, k=5)
    ranks = pagerank(edges, damping=0.85, n_iter=10)
    return ranks.select(
        F.col("id").alias("vec_id"),
        F.round(F.col("rank") + F.lit(1e-9), 6).alias("pagerank"),
    )


SQL_PAGERANK = """
WITH RECURSIVE
q AS (SELECT vec_id, embedding::DOUBLE[] AS qvec FROM embeddings),
knn AS (
  SELECT q.vec_id AS src, c.vec_id AS dst
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id <> q.vec_id
  QUALIFY row_number() OVER (
    PARTITION BY q.vec_id
    ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], q.qvec) DESC,
             c.vec_id
  ) <= 5
),
verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM knn UNION SELECT dst FROM knn)),
nv AS (SELECT count(*)::DOUBLE AS n FROM verts),
deg AS (SELECT src, count(*)::DOUBLE AS d FROM knn GROUP BY src),
pr(iter, id, rank) AS (
  SELECT 0, id, 1.0 / (SELECT n FROM nv) FROM verts
  UNION ALL
  SELECT p.iter + 1, v.id,
         0.15 / (SELECT n FROM nv)
         + 0.85 * ( coalesce(c.contrib, 0.0)
                    + (SELECT coalesce(sum(pr.rank), 0.0) FROM pr
                       LEFT JOIN deg ON deg.src = pr.id
                       WHERE deg.src IS NULL AND pr.iter = p.iter)
                      / (SELECT n FROM nv) )
  FROM verts v
  CROSS JOIN (SELECT DISTINCT iter FROM pr) p
  LEFT JOIN (
    SELECT knn.dst, pr.iter, sum(pr.rank / deg.d) AS contrib
    FROM pr JOIN knn ON knn.src = pr.id JOIN deg ON deg.src = pr.id
    GROUP BY knn.dst, pr.iter
  ) c ON c.dst = v.id AND c.iter = p.iter
  WHERE p.iter < 10
)
SELECT id AS vec_id, round(rank + 1e-9, 6)::DOUBLE + 0.0 AS pagerank
FROM pr WHERE iter = 10
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- driver correctness window (first 50): round-5 rotation onto
        # --- queries never externally driver-verified in rounds 1-4.
        "kruskal_wallis_docs": q_kruskal_wallis_docs,
        "brown_forsythe_docs": q_brown_forsythe_docs,
        "anderson_darling_docs": q_anderson_darling_docs,
        "welch_t_events": q_welch_t_events,
        "mwu_events": q_mwu_events,
        "mann_kendall_events": q_mann_kendall_events,
        "seasonal_mk_events": q_seasonal_mk_events,
        "cochran_armitage_events": q_cochran_armitage_events,
        "bootstrap_ci_events": q_bootstrap_ci_events,
        "roc_auc_events": q_roc_auc_events,
        "ljung_box_events": q_ljung_box_events,
        "ks_drift_events": q_ks_drift_events,
        "cvm_drift_events": q_cvm_drift_events,
        "wasserstein_events": q_wasserstein_events,
        "fdr_drift_events": q_fdr_drift_events,
        "holm_drift_events": q_holm_drift_events,
        "fisher_drift_events": q_fisher_drift_events,
        "chisq_docs": q_chisq_docs,
        "cramers_v_events": q_cramers_v_events,
        "esd_outliers_events": q_esd_outliers_events,
        "hill_tail_events": q_hill_tail_events,
        "kpss_events": q_kpss_events,
        "pettitt_events": q_pettitt_events,
        "page_hinkley_events": q_page_hinkley_events,
        "cusum_events": q_cusum_events,
        "theil_sen_events": q_theil_sen_events,
        "runs_test_events": q_runs_test_events,
        "l_moments_events": q_l_moments_events,
        "gumbel_maxima_events": q_gumbel_maxima_events,
        "nb_overdispersion_events": q_nb_overdispersion_events,
        "sprt_events": q_sprt_events,
        "isotonic_events": q_isotonic_events,
        "mahalanobis_events": q_mahalanobis_events,
        "logrank_events": q_logrank_events,
        "km_survival_events": q_km_survival_events,
        "weibull_gaps_events": q_weibull_gaps_events,
        "kmv_distinct_docs": q_kmv_distinct_docs,
        "kmv_overlap_docs": q_kmv_overlap_docs,
        "cms_est_events": q_cms_est_events,
        "contaminated_bloom_docs": q_contaminated_bloom_docs,
        "pagerank_embeddings": q_pagerank_embeddings,
        "dup_component_sizes_docs": q_dup_component_sizes_docs,
        "bigram_nll_docs": q_bigram_nll_docs,
        "unigram_nll_docs": q_unigram_nll_docs,
        "chao_vocab_docs": q_chao_vocab_docs,
        "heaps_docs": q_heaps_docs,
        "zipf_docs": q_zipf_docs,
        "jaccard_join_docs": q_jaccard_join_docs,
        "mi_events": q_mi_events,
        "jsd_sources_docs": q_jsd_sources_docs,
        # --- previously driver-green (r1-r4) and/or repo-gate-covered below.
        "stats_profile_docs": q_stats_profile_docs,
        "column_profile_docs": q_column_profile_docs,
        "violations_docs": q_violations_docs,
        "dup_users_events": q_dup_users_events,
        "unique_orderkeys": q_unique_orderkeys,
        "orphan_lineitems": q_orphan_lineitems,
        "source_coverage_docs": q_source_coverage_docs,
        "ntok_hist_docs": q_ntok_hist_docs,
        "wordlen_hist_docs": q_wordlen_hist_docs,
        "range_check_lineitem": q_range_check_lineitem,
        "pricing_summary": q_pricing_summary,
        "moving_average_events": q_moving_average_events,
        "likelihood_events": q_likelihood_events,
        "sessionize_events": q_sessionize_events,
        "topk_orders": q_topk_orders,
        "token_count_docs": q_token_count_docs,
        "lang_id_docs": q_lang_id_docs,
        "quality_docs": q_quality_docs,
        "fingerprint_docs": q_fingerprint_docs,
        "dedup_exact_docs": q_dedup_exact_docs,
        "drift_psi_events": q_drift_psi_events,
        "embed_topk": q_embed_topk,
        "strict_zip_nation": q_strict_zip_nation,
        "interval_join_events": q_interval_join_events,
        "lead_labels_events": q_lead_labels_events,
        "argmax_orders": q_argmax_orders,
        "resolution_docs": q_resolution_docs,
        "loglik_events": q_loglik_events,
        "tail_slice_events": q_tail_slice_events,
        "approx_distinct_docs": q_approx_distinct_docs,
        "minhash_pairs_docs": q_minhash_pairs_docs,
        "simhash_docs": q_simhash_docs,
        "lsh_topk_embeddings": q_lsh_topk_embeddings,
        "lsh_topk_wide_embeddings": q_lsh_topk_wide_embeddings,
        "simhash_pairs_docs": q_simhash_pairs_docs,
        "embed_near_dups": q_embed_near_dups,
        "quantiles_docs": q_quantiles_docs,
        "quantile_synopsis_events": q_quantile_synopsis_events,
        "winnow_docs": q_winnow_docs,
        "dup_ngram_docs": q_dup_ngram_docs,
        "top_bigram_docs": q_top_bigram_docs,
        "contaminated_docs": q_contaminated_docs,
        "json_props_events": q_json_props_events,
        "dedup_clusters_docs": q_dedup_clusters_docs,
        "dedup_clusters_incr_docs": q_dedup_clusters_incr_docs,
        "windowed_counts_events": q_windowed_counts_events,
        "session_window_events": q_session_window_events,
        "pack_docs": q_pack_docs,
        "split_docs": q_split_docs,
        "stratified_docs": q_stratified_docs,
        "quality_bins_docs": q_quality_bins_docs,
        "dedup_best_docs": q_dedup_best_docs,
        "asof_join_events": q_asof_join_events,
        "rollup_lineitem": q_rollup_lineitem,
        "shipping_priority": q_shipping_priority,
        "tfidf_docs": q_tfidf_docs,
        "postings_docs": q_postings_docs,
        "bm25_docs": q_bm25_docs,
        "scrub_docs": q_scrub_docs,
        "funnel_events": q_funnel_events,
        "stream_join_events": q_stream_join_events,
        "pivot_events": q_pivot_events,
        "shuffle_docs": q_shuffle_docs,
        "kmeans_embeddings": q_kmeans_embeddings,
        "semdedup_embeddings": q_semdedup_embeddings,
        "top_orders_per_segment": q_top_orders_per_segment,
        "region_revenue": q_region_revenue,
        "oov_rate_docs": q_oov_rate_docs,
        "mixture_weights_docs": q_mixture_weights_docs,
        "mixture_sample_docs": q_mixture_sample_docs,
        "salted_join_lineitem": q_salted_join_lineitem,
        "quality_calibrated_docs": q_quality_calibrated_docs,
        "retention_cohorts_events": q_retention_cohorts_events,
        "chunk_docs": q_chunk_docs,
        "dup_spans_docs": q_dup_spans_docs,
        "dup_span_extents_docs": q_dup_span_extents_docs,
        "conformal_events": q_conformal_events,
        "centroid_drift_embeddings": q_centroid_drift_embeddings,
        "pmi_docs": q_pmi_docs,
        "incremental_dedup_docs": q_incremental_dedup_docs,
        "ttr_docs": q_ttr_docs,
        "gini_events": q_gini_events,
        "acf_events": q_acf_events,
        "pacf_events": q_pacf_events,
        "seasonal_profile_events": q_seasonal_profile_events,
        "seasonal_anomaly_events": q_seasonal_anomaly_events,
        "energy_drift_events": q_energy_drift_events,
        "hurst_events": q_hurst_events,
        "dominant_period_events": q_dominant_period_events,
        "spectral_entropy_events": q_spectral_entropy_events,
        "dispersion_events": q_dispersion_events,
        "exp_gap_ks_events": q_exp_gap_ks_events,
        "arrival_profile_events": q_arrival_profile_events,
        "benford_docs": q_benford_docs,
        "entropy_docs": q_entropy_docs,
        "fd_check_events": q_fd_check_events,
        "moments_events": q_moments_events,
        "volume_outliers_events": q_volume_outliers_events,
        "trend_events": q_trend_events,
        "join_profile_orders": q_join_profile_orders,
        "worst_segments_docs": q_worst_segments_docs,
        "order_count_dist": q_order_count_dist,
        "profile_metrics_docs": q_profile_metrics_docs,
        "promo_revenue": q_promo_revenue,
        "forecast_revenue_lineitem": q_forecast_revenue_lineitem,
        "user_growth_events": q_user_growth_events,
        "suggested_checks_docs": q_suggested_checks_docs,
        "returned_revenue": q_returned_revenue,
        "big_orders": q_big_orders,
        "heavy_words_docs": q_heavy_words_docs,
        "contaminated_ngram_docs": q_contaminated_ngram_docs,
        "late_ship_priority": q_late_ship_priority,
        "small_qty_revenue": q_small_qty_revenue,
        "disjunctive_revenue": q_disjunctive_revenue,
        "idle_rich_customers": q_idle_rich_customers,
        "running_zscore_events": q_running_zscore_events,
        "ivm_counts_docs": q_ivm_counts_docs,
        "snapshot_diff_docs": q_snapshot_diff_docs,
        "blamed_suppliers": q_blamed_suppliers,
        "fuzzy_sources_docs": q_fuzzy_sources_docs,
        "weighted_sample_docs": q_weighted_sample_docs,
        "corr_matrix_lineitem": q_corr_matrix_lineitem,
        "volume_shipping": q_volume_shipping,
        "market_share": q_market_share,
        "top_supplier": q_top_supplier,
        "min_cost_supplier": q_min_cost_supplier,
        "nation_profit": q_nation_profit,
        "important_parts": q_important_parts,
        "supplier_cnt_parts": q_supplier_cnt_parts,
        "excess_ship_suppliers": q_excess_ship_suppliers,
        "checksum_orders": q_checksum_orders,
        "rp_embeddings": q_rp_embeddings,
        "embed_integrity": q_embed_integrity,
        "embed_dim_profile": q_embed_dim_profile,
        "embed_isotropy": q_embed_isotropy,
        "leak_split_docs": q_leak_split_docs,
        "gaps_events": q_gaps_events,
        "winsorized_docs": q_winsorized_docs,
        "pareto_docs": q_pareto_docs,
        "ess_docs": q_ess_docs,
        "topk_overlap_docs": q_topk_overlap_docs,
        "tail_dep_events": q_tail_dep_events,
        "ratio_metric_events": q_ratio_metric_events,
        "feature_relevance_events": q_feature_relevance_events,
        "kappa_lang_docs": q_kappa_lang_docs,
        "calibration_events": q_calibration_events,
        "stuck_runs_events": q_stuck_runs_events,
        "wilson_events": q_wilson_events,
        "diversity_docs": q_diversity_docs,
        "tukey_fences_events": q_tukey_fences_events,
        "hellinger_sources_docs": q_hellinger_sources_docs,
        "truncation_docs": q_truncation_docs,
        "source_overlap_docs": q_source_overlap_docs,
        "token_budget_docs": q_token_budget_docs,
        "qq_drift_docs": q_qq_drift_docs,
        "violation_bound_docs": q_violation_bound_docs,
        "dedup_recall_docs": q_dedup_recall_docs,
        "lang_confusion_docs": q_lang_confusion_docs,
        "cube_events": q_cube_events,
        "transition_jsd_docs": q_transition_jsd_docs,
        "ccf_events": q_ccf_events,
        "lift_events": q_lift_events,
        "diurnal_events": q_diurnal_events,
        "readability_docs": q_readability_docs,
        "perm_entropy_events": q_perm_entropy_events,
        "json_keys_events": q_json_keys_events,
        "json_types_events": q_json_types_events,
        "neyman_alloc_events": q_neyman_alloc_events,
        "weighted_quantiles_docs": q_weighted_quantiles_docs,
        "freshness_events": q_freshness_events,
        "compress_ratio_docs": q_compress_ratio_docs,
        "compress_profile_docs": q_compress_profile_docs,
        "multimodal_features": q_multimodal_features,
        "ivf_topk_embeddings": q_ivf_topk_embeddings,
        "pq_topk_embeddings": q_pq_topk_embeddings,
        "validation_verdicts": q_validation_verdicts,
        "validation_verdicts_drift": q_validation_verdicts_drift,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "stats_profile_docs": SQL_STATS_PROFILE,
        "column_profile_docs": SQL_COLUMN_PROFILE,
        "violations_docs": SQL_VIOLATIONS_DOCS,
        "dup_users_events": SQL_DUP_USERS,
        "unique_orderkeys": SQL_UNIQUE_ORDERKEYS,
        "orphan_lineitems": SQL_ORPHAN_LINEITEMS,
        "source_coverage_docs": SQL_SOURCE_COVERAGE,
        "ntok_hist_docs": SQL_NTOK_HIST,
        "wordlen_hist_docs": SQL_WORDLEN_HIST,
        "range_check_lineitem": SQL_RANGE_CHECK,
        "pricing_summary": SQL_PRICING_SUMMARY,
        "moving_average_events": SQL_MOVING_AVERAGE,
        "likelihood_events": SQL_LIKELIHOOD,
        "sessionize_events": SQL_SESSIONIZE,
        "topk_orders": SQL_TOPK_ORDERS,
        "token_count_docs": SQL_TOKEN_COUNT,
        "lang_id_docs": SQL_LANG_ID,
        "quality_docs": SQL_QUALITY,
        "fingerprint_docs": SQL_FINGERPRINT,
        "dedup_exact_docs": SQL_DEDUP_EXACT,
        "drift_psi_events": SQL_DRIFT_PSI,
        "embed_topk": SQL_EMBED_TOPK,
        "strict_zip_nation": SQL_STRICT_ZIP,
        "interval_join_events": SQL_INTERVAL_JOIN,
        "lead_labels_events": SQL_LEAD_LABELS,
        "argmax_orders": SQL_ARGMAX_ORDERS,
        "resolution_docs": SQL_RESOLUTION,
        "loglik_events": SQL_LOGLIK,
        "tail_slice_events": SQL_TAIL_SLICE,
        "minhash_pairs_docs": SQL_MINHASH_PAIRS,
        "simhash_docs": SQL_SIMHASH,
        "simhash_pairs_docs": SQL_SIMHASH_PAIRS,
        "lsh_topk_embeddings": SQL_LSH_TOPK,
        "lsh_topk_wide_embeddings": SQL_LSH_TOPK_WIDE,
        "embed_near_dups": SQL_EMBED_NEAR_DUPS,
        "quantiles_docs": SQL_QUANTILES,
        "quantile_synopsis_events": SQL_QUANTILE_SYNOPSIS,
        "winnow_docs": SQL_WINNOW,
        "dup_ngram_docs": SQL_DUP_NGRAM,
        "top_bigram_docs": SQL_TOP_BIGRAM,
        "contaminated_docs": SQL_CONTAMINATED,
        "json_props_events": SQL_JSON_PROPS,
        "dedup_clusters_docs": SQL_DEDUP_CLUSTERS,
        "dedup_clusters_incr_docs": SQL_DEDUP_CLUSTERS,
        "windowed_counts_events": SQL_WINDOWED_COUNTS,
        "session_window_events": SQL_SESSION_WINDOW,
        "pack_docs": SQL_PACK_DOCS,
        "split_docs": SQL_SPLIT_DOCS,
        "stratified_docs": SQL_STRATIFIED_DOCS,
        "quality_bins_docs": SQL_QUALITY_BINS,
        "dedup_best_docs": SQL_DEDUP_BEST,
        "asof_join_events": SQL_ASOF_JOIN,
        "rollup_lineitem": SQL_ROLLUP_LINEITEM,
        "shipping_priority": SQL_SHIPPING_PRIORITY,
        "tfidf_docs": SQL_TFIDF_DOCS,
        "postings_docs": SQL_POSTINGS_DOCS,
        "bm25_docs": SQL_BM25_DOCS,
        "scrub_docs": SQL_SCRUB_DOCS,
        "funnel_events": SQL_FUNNEL_EVENTS,
        "stream_join_events": SQL_STREAM_JOIN_EVENTS,
        "pivot_events": SQL_PIVOT_EVENTS,
        "shuffle_docs": SQL_SHUFFLE_DOCS,
        "kmeans_embeddings": SQL_KMEANS_GOLDEN,
        "semdedup_embeddings": SQL_SEMDEDUP_GOLDEN,
        "top_orders_per_segment": SQL_TOP_ORDERS_PER_SEGMENT,
        "region_revenue": SQL_REGION_REVENUE,
        "unigram_nll_docs": SQL_UNIGRAM_NLL,
        "oov_rate_docs": SQL_OOV_RATE,
        "mixture_weights_docs": SQL_MIXTURE_WEIGHTS,
        "mixture_sample_docs": SQL_MIXTURE_SAMPLE,
        "salted_join_lineitem": SQL_SALTED_JOIN,
        "quality_calibrated_docs": SQL_QUALITY_CALIB,
        "retention_cohorts_events": SQL_RETENTION_COHORTS,
        "chunk_docs": SQL_CHUNK_DOCS,
        "dup_spans_docs": SQL_DUP_SPANS,
        "dup_span_extents_docs": SQL_DUP_SPAN_EXTENTS,
        "ks_drift_events": SQL_KS_DRIFT,
        "conformal_events": SQL_CONFORMAL,
        "jaccard_join_docs": SQL_JACCARD_JOIN,
        "wasserstein_events": SQL_WASSERSTEIN,
        "fdr_drift_events": SQL_FDR_DRIFT,
        "centroid_drift_embeddings": SQL_CENTROID_DRIFT,
        "pmi_docs": SQL_PMI_DOCS,
        "incremental_dedup_docs": SQL_INCREMENTAL_DEDUP,
        "cusum_events": SQL_CUSUM,
        "ttr_docs": SQL_TTR,
        "zipf_docs": SQL_ZIPF,
        "gini_events": SQL_GINI,
        "acf_events": SQL_ACF,
        "pacf_events": SQL_PACF,
        "seasonal_profile_events": SQL_SEASONAL_PROFILE,
        "seasonal_anomaly_events": SQL_SEASONAL_ANOMALY,
        "energy_drift_events": SQL_ENERGY_DRIFT,
        "hurst_events": SQL_HURST,
        "dominant_period_events": SQL_DOMINANT_PERIOD,
        "spectral_entropy_events": SQL_SPECTRAL_ENTROPY,
        "ljung_box_events": SQL_LJUNG_BOX,
        "dispersion_events": SQL_DISPERSION,
        "exp_gap_ks_events": SQL_EXP_GAP_KS,
        "kruskal_wallis_docs": SQL_KRUSKAL_WALLIS,
        "brown_forsythe_docs": SQL_BROWN_FORSYTHE,
        "anderson_darling_docs": SQL_ANDERSON_DARLING,
        "welch_t_events": SQL_WELCH_T,
        "arrival_profile_events": SQL_ARRIVAL_PROFILE,
        "logrank_events": SQL_LOGRANK,
        "holm_drift_events": SQL_HOLM_DRIFT,
        "chisq_docs": SQL_CHISQ_DOCS,
        "benford_docs": SQL_BENFORD,
        "entropy_docs": SQL_ENTROPY,
        "fd_check_events": SQL_FD_CHECK,
        "moments_events": SQL_MOMENTS,
        "volume_outliers_events": SQL_VOLUME_OUTLIERS,
        "trend_events": SQL_TREND,
        "mwu_events": SQL_MWU,
        "join_profile_orders": SQL_JOIN_PROFILE,
        "worst_segments_docs": SQL_WORST_SEGMENTS,
        "order_count_dist": SQL_ORDER_COUNT_DIST,
        "profile_metrics_docs": SQL_PROFILE_METRICS,
        "promo_revenue": SQL_PROMO_REVENUE,
        "forecast_revenue_lineitem": SQL_FORECAST_REVENUE,
        "user_growth_events": SQL_USER_GROWTH,
        "suggested_checks_docs": SQL_SUGGESTED_CHECKS,
        "returned_revenue": SQL_RETURNED_REVENUE,
        "big_orders": SQL_BIG_ORDERS,
        "heavy_words_docs": SQL_HEAVY_WORDS,
        "contaminated_ngram_docs": SQL_CONTAMINATED_NGRAM,
        "contaminated_bloom_docs": SQL_CONTAMINATED_NGRAM,
        "late_ship_priority": SQL_LATE_SHIP_PRIORITY,
        "small_qty_revenue": SQL_SMALL_QTY_REVENUE,
        "disjunctive_revenue": SQL_DISJUNCTIVE_REVENUE,
        "idle_rich_customers": SQL_IDLE_RICH_CUSTOMERS,
        "running_zscore_events": SQL_RUNNING_ZSCORE,
        "ivm_counts_docs": SQL_IVM_COUNTS,
        "snapshot_diff_docs": SQL_SNAPSHOT_DIFF,
        "blamed_suppliers": SQL_BLAMED_SUPPLIERS,
        "fuzzy_sources_docs": SQL_FUZZY_SOURCES,
        "weighted_sample_docs": SQL_WEIGHTED_SAMPLE,
        "corr_matrix_lineitem": SQL_CORR_MATRIX,
        "volume_shipping": SQL_VOLUME_SHIPPING,
        "market_share": SQL_MARKET_SHARE,
        "top_supplier": SQL_TOP_SUPPLIER,
        "min_cost_supplier": SQL_MIN_COST_SUPPLIER,
        "nation_profit": SQL_NATION_PROFIT,
        "important_parts": SQL_IMPORTANT_PARTS,
        "supplier_cnt_parts": SQL_SUPPLIER_CNT_PARTS,
        "excess_ship_suppliers": SQL_EXCESS_SHIP_SUPPLIERS,
        "checksum_orders": SQL_CHECKSUM_ORDERS,
        "rp_embeddings": _sql_rp_embeddings(),
        "embed_integrity": SQL_EMBED_INTEGRITY,
        "embed_dim_profile": SQL_EMBED_DIM_PROFILE,
        "embed_isotropy": SQL_EMBED_ISOTROPY,
        "leak_split_docs": SQL_LEAK_SPLIT,
        "gaps_events": SQL_GAPS_EVENTS,
        "dup_component_sizes_docs": SQL_DUP_COMPONENT_SIZES,
        "winsorized_docs": SQL_WINSORIZED,
        "heaps_docs": SQL_HEAPS,
        "mann_kendall_events": SQL_MANN_KENDALL,
        "seasonal_mk_events": SQL_SEASONAL_MK,
        "cochran_armitage_events": SQL_COCHRAN_ARMITAGE,
        "bootstrap_ci_events": SQL_BOOTSTRAP_CI,
        "roc_auc_events": SQL_ROC_AUC,
        "pareto_docs": SQL_PARETO_DOCS,
        "pettitt_events": SQL_PETTITT,
        "nb_overdispersion_events": SQL_NB_OVERDISPERSION,
        "ess_docs": SQL_ESS_DOCS,
        "topk_overlap_docs": SQL_TOPK_OVERLAP,
        "weibull_gaps_events": SQL_WEIBULL_GAPS,
        "l_moments_events": SQL_L_MOMENTS,
        "tail_dep_events": SQL_TAIL_DEP,
        "ratio_metric_events": SQL_RATIO_METRIC,
        "feature_relevance_events": SQL_FEATURE_RELEVANCE,
        "kappa_lang_docs": SQL_KAPPA_LANG,
        "calibration_events": SQL_CALIBRATION_EVENTS,
        "stuck_runs_events": SQL_STUCK_RUNS,
        "gumbel_maxima_events": SQL_GUMBEL_MAXIMA,
        "sprt_events": SQL_SPRT_EVENTS,
        "wilson_events": SQL_WILSON_EVENTS,
        "diversity_docs": SQL_DIVERSITY_DOCS,
        "tukey_fences_events": SQL_TUKEY_FENCES,
        "hellinger_sources_docs": SQL_HELLINGER_SOURCES,
        "cramers_v_events": SQL_CRAMERS_V,
        "esd_outliers_events": SQL_ESD_OUTLIERS,
        "hill_tail_events": SQL_HILL_TAIL,
        "kpss_events": SQL_KPSS,
        "truncation_docs": SQL_TRUNCATION,
        "source_overlap_docs": SQL_SOURCE_OVERLAP,
        "token_budget_docs": SQL_TOKEN_BUDGET,
        "qq_drift_docs": SQL_QQ_DRIFT,
        "violation_bound_docs": SQL_VIOLATION_BOUND,
        "dedup_recall_docs": _sql_dedup_recall(),
        "lang_confusion_docs": SQL_LANG_CONFUSION,
        "cube_events": SQL_CUBE_EVENTS,
        "jsd_sources_docs": SQL_JSD_SOURCES,
        "transition_jsd_docs": SQL_TRANSITION_JSD,
        "bigram_nll_docs": SQL_BIGRAM_NLL,
        "mi_events": SQL_MI_EVENTS,
        "theil_sen_events": SQL_THEIL_SEN,
        "ccf_events": SQL_CCF_EVENTS,
        "lift_events": SQL_LIFT_EVENTS,
        "runs_test_events": SQL_RUNS_TEST,
        "km_survival_events": SQL_KM_SURVIVAL,
        "diurnal_events": SQL_DIURNAL,
        "chao_vocab_docs": SQL_CHAO_VOCAB,
        "cvm_drift_events": SQL_CVM_DRIFT,
        "readability_docs": SQL_READABILITY,
        "perm_entropy_events": SQL_PERM_ENTROPY,
        "json_keys_events": SQL_JSON_KEYS,
        "json_types_events": SQL_JSON_TYPES,
        "isotonic_events": SQL_ISOTONIC,
        "page_hinkley_events": SQL_PAGE_HINKLEY,
        "fisher_drift_events": SQL_FISHER_DRIFT,
        "mahalanobis_events": SQL_MAHALANOBIS,
        "cms_est_events": SQL_CMS_EST,
        "kmv_distinct_docs": SQL_KMV_DISTINCT,
        "kmv_overlap_docs": SQL_KMV_OVERLAP,
        "neyman_alloc_events": SQL_NEYMAN,
        "weighted_quantiles_docs": SQL_WEIGHTED_QUANTILES,
        "freshness_events": SQL_FRESHNESS,
        "validation_verdicts": SQL_VALIDATION_VERDICTS,
        "validation_verdicts_drift": SQL_VALIDATION_VERDICTS_DRIFT,
        # golden-parquet oracles — valid at the driver's correctness
        # scale (sf0.01); regenerate with tools/make_goldens.py
        "ivf_topk_embeddings": SQL_IVF_GOLDEN,
        "pq_topk_embeddings": SQL_PQ_GOLDEN,
        "pagerank_embeddings": SQL_PAGERANK,
        "multimodal_features": SQL_MULTIMODAL_GOLDEN,
        "compress_ratio_docs": SQL_COMPRESS_RATIO_GOLDEN,
        "compress_profile_docs": SQL_COMPRESS_PROFILE_GOLDEN,
    }
