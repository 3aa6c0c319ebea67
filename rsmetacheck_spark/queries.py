"""Oracle-checked query library: every entry is (Spark impl, DuckDB SQL).

This is the engine's operator surface for the driver's correctness gate
(__spark_entry__.queries / oracle_sql): relational operators (SURVEY.md
§2.4-2.7 aggregates/joins/sorts/top-k), the quality-rule analogs over the
`documents` table, and the training-data-pipeline operators (dedup family,
similarity search, text analysis).

Cross-engine determinism rules used throughout:
 - float SUMs go through DECIMAL(18,4) (exact, order-independent), then
   cast to double — Spark's parallel partial aggregation and DuckDB then
   agree bit-for-bit;
 - ratios are round(x, 6); percentages round(x, 2);
 - hashing is md5-of-string (identical hex in both engines) — never
   xxhash64/murmur in result-bearing columns;
 - canonical tokenization: split lower(text) on '[^a-z0-9]+', drop empties;
 - top-k always has a total order (metric desc, key asc);
 - timestamps are emitted as 'yyyy-MM-dd HH:mm:ss' strings.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pandas as pd  # resolved by pandas_udf type hints (PEP-563 strings)
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import thresholds as TH
from .functions.hashing import BAND_CAP, NUM_BANDS, NUM_HASHES, ROWS_PER_BAND

# Documents-table rule thresholds (word-soup docs are 10-99 tokens).
DOC_MIN_TOKENS = 20
DOC_MAX_TOKENS = 90
DOC_MIN_STOP_FRAC = 0.04
DOC_KEEP_LANGS = ("en", "de", "fr", "es")
JACCARD_T = 0.2
COSINE_PAIR_T = 0.45
ANN_K = 10

_TOKS_SPARK = "filter(split(lower({c}), '[^a-z0-9]+'), x -> x != '')"
_TOKS_DUCK = "list_filter(regexp_split_to_array(lower({c}), '[^a-z0-9]+'), x -> x <> '')"

_STOP_SQL = ", ".join(f"'{w}'" for w in TH.STOPWORD_UNION)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _tok_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tok, c): per-doc token counts, checkpointed once per
    session — dd12 consumes the counts (weighted Jaccard), dd15 the same
    column as tf weights, dd13 the key set (distinct tokens). One
    tokenize+explode+groupBy pass instead of three."""
    d = _docs_par(spark, sf_dir).select("doc_id", "text")
    toks = _TOKS_DUCK.format(c="text")
    # DuckDB-in-mapInArrow (guide §4.2, the _shingle_mat pattern): each
    # input row is ONE whole document, so a per-batch GROUP BY
    # (doc_id, tok) is already the final per-doc count — the JVM
    # explode + groupBy shuffled the near-unreduced exploded token rows
    # (partial aggregation cannot combine across partitions it never
    # sees twice). This build is map-only: zero Exchange.
    sql = (
        "SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c "
        f"FROM (SELECT doc_id, unnest({toks}) AS tok FROM _b) "
        "GROUP BY doc_id, tok"
    )
    return _checkpoint(
        _duckdb_map(d, sql, "doc_id long, tok string, c long"),
        "tok_counts", sf_dir,
    )


_DOCS_PAR_BYTES = 256 << 10  # compressed bytes per target partition


def _docs_par(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with a SIZE-ADAPTIVE parallelism floor for heavy
    per-row compute (tokenize/regex/explode): the sf tables are
    single-row-group parquet files, so a bare scan yields ONE task no
    matter the core count and every downstream map-side pass serializes
    at the scales where the map work dominates. The target partition
    count is derived from the INPUT SIZE (guide §2: scale-adaptive, not
    a constant tuned for one scale): ~256 KB compressed text per task,
    capped at the core count. On a small corpus (sf0.1 and below) that
    target collapses to <=2 and the exchange is SKIPPED entirely — an
    unconditional repartition(cores) there costs more in shuffle +
    task-scheduling than the single-task map pass it parallelizes
    (measured: +0.5-1.3 s on each of ~10 tokenize-family queries at
    sf0.1, while the same floor saves multi-second serialization at
    sf1.0). Queries whose plans are asserted shuffle-free (ev01-ev08,
    q33) deliberately do NOT use this helper. At real scale the scan has
    thousands of splits, the cap engages, and this exchange is the
    usual pre-UDF repartition."""
    par = spark.sparkContext.defaultParallelism
    d = _t(spark, sf_dir, "documents")
    p = os.path.join(sf_dir, "documents.parquet")
    try:
        if os.path.isdir(p):
            nbytes = sum(
                os.path.getsize(os.path.join(p, f)) for f in os.listdir(p)
            )
        else:
            nbytes = os.path.getsize(p)
    except OSError:
        nbytes = None
    if nbytes is None:
        return d.repartition(par, "doc_id")
    target = min(par, nbytes // _DOCS_PAR_BYTES)
    if target <= 2:
        return d
    return d.repartition(int(target), "doc_id")


_CKPT_CACHE: dict[str, str] = {}


def _sfkey(sf_dir: str) -> str:
    """Cache key for an sf dir that includes a fingerprint of the input
    parquet (paths + mtimes + sizes): if the underlying data at the same
    path is regenerated mid-session (tests, notebooks), checkpoint-derived
    queries must NOT serve stale scratch tables."""
    parts = [sf_dir]
    for name in ("documents.parquet", "embeddings.parquet"):
        p = os.path.join(sf_dir, name)
        if os.path.isdir(p):
            for f in sorted(os.listdir(p)):
                st = os.stat(os.path.join(p, f))
                parts.append(f"{f}:{st.st_mtime_ns}:{st.st_size}")
        elif os.path.exists(p):
            st = os.stat(p)
            parts.append(f"{name}:{st.st_mtime_ns}:{st.st_size}")
    return "|".join(parts)


def _ckpt_key(tag: str, sf: str, extra: tuple = ()) -> str:
    """The one spelling of a scratch table's session cache key: its tag,
    the sf dir's input fingerprint, and any parameter the table depends
    on beyond its input (dd09's Bloom geometry)."""
    return ":".join([tag, _sfkey(sf), *map(str, extra)])


def _ckpt_path(tag: str, sf: str) -> str | None:
    """Scratch dir of the keyed checkpoint `tag` for `sf` written in this
    session, or None. For readers that load a scratch table outside a
    Spark plan (the worker-side NumPy loaders) or skip work when it
    already exists (dd06's CC loop)."""
    return _CKPT_CACHE.get(_ckpt_key(tag, sf))


def _checkpoint(
    df: DataFrame, tag: str, sf: str | None = None, extra: tuple = (),
    rebalance: bool = False,
) -> DataFrame:
    """Materialize an intermediate to scratch parquet and read it back —
    the query-local analog of checkpointing to a bucketed scratch table.
    Replaces .cache() for plan branches that reuse expensive intermediates:
    no executor-memory residency, no unpersist leak across a bench sweep,
    and the exact pattern that survives 100 TB (shingle/signature tables
    don't fit in cluster RAM; a spill-safe columnar scratch table does).

    Passing `sf` memoizes a DETERMINISTIC intermediate within the session
    under _ckpt_key(tag, sf, extra) (e.g. the dd02 shingle table per sf
    dir), so a downstream operator (dd06) or a repeated bench run reuses
    the scratch table instead of recomputing — the session-local analog
    of a named scratch dataset. Without `sf` every call writes afresh."""
    import atexit
    import shutil
    import tempfile

    key = None if sf is None else _ckpt_key(tag, sf, extra)
    if key in _CKPT_CACHE:
        return df.sparkSession.read.parquet(_CKPT_CACHE[key])
    path = tempfile.mkdtemp(prefix=f"rsmc_ckpt_{tag}_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    if rebalance:
        # AQE REBALANCE before the write (guide §6): checkpoints written
        # straight from a map stage inherit its partition count — a tiny
        # table fanned over 30+ files makes EVERY consumer stage pay 30+
        # scan tasks (measured: the 2k-row sim08 edge table as 30 files
        # turned each g01-g04 stage into 60 tasks). Rebalance sizes the
        # files by bytes (advisoryPartitionSizeInBytes), so a tiny table
        # collapses to one file while a production-sized one stays split.
        df = df.hint("rebalance")
    df.write.mode("overwrite").parquet(path)
    if key is not None:
        _CKPT_CACHE[key] = path
    return df.sparkSession.read.parquet(path)


def _duckdb_map(df: DataFrame, sql: str, schema: str) -> DataFrame:
    """Run `sql` in DuckDB over each Arrow batch of `df`, registered as
    the table `_b`, inside mapInArrow (guide §4.2: a vectorized native
    engine per batch beats interpreted Catalyst HOF lambdas). Map-only:
    whatever `sql` aggregates is final only per batch."""

    def build(batches):
        import duckdb
        import pyarrow as pa

        con = duckdb.connect()
        con.execute("SET threads TO 1")  # Spark owns the cores; an
        # all-core pool per task oversubscribes 22 tasks x 32 threads
        for b in batches:
            con.register("_b", pa.Table.from_batches([b]))
            yield from con.execute(sql).fetch_arrow_table().to_batches()

    return df.mapInArrow(build, schema)


def _dsum(col: str) -> F.Column:
    """Order-independent float sum: through decimal, out as double."""
    return F.sum(F.col(col).cast("decimal(18,4)")).cast("double")


# ---------------------------------------------------------------------------
# Relational operators (TPC-H-ish; scans S1, filters F1-F5, aggs A1-A4,
# joins §2.5, sort/top-k O1-O3)
# ---------------------------------------------------------------------------


def q01_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1997-09-01 00:00:00").cast("timestamp")
    )
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        _dsum("l_quantity").alias("sum_qty"),
        _dsum("l_extendedprice").alias("sum_base_price"),
        F.sum(disc).cast("double").alias("sum_disc_price"),
        F.count("*").alias("count_order"),
    )
    return g.select(
        "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
        "sum_disc_price",
        F.round(F.col("sum_qty") / F.col("count_order"), 6).alias("avg_qty"),
        F.round(F.col("sum_base_price") / F.col("count_order"), 6).alias("avg_price"),
        "count_order",
    )


SQL_Q01 = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1997-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q02_revenue_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


SQL_Q02 = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       COUNT(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY n_name
"""


def q03_topk_orders_per_priority(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
    )


SQL_Q03 = """
SELECT o_orderpriority, CAST(rk AS INTEGER) AS rk, o_orderkey, o_totalprice FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders) WHERE rk <= 3
"""


def q04_latest_event_per_user(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "user_id", "event_id", "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        )
    )


SQL_Q04 = """
SELECT user_id, event_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
  FROM events) WHERE rk = 1
"""


def q05_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization: 30-min inactivity gap (lag + conditional sum)."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        e.withColumn("new_s", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .groupBy("user_id")
        .agg(
            F.sum("new_s").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


SQL_Q05 = """
SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions, COUNT(*) AS n_events FROM (
  SELECT user_id,
         CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS new_s
  FROM (SELECT user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events))
GROUP BY user_id
"""


def q06_events_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling 1-hour window aggregation (batch analog of the streaming
    windowed count; SURVEY §2.9)."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour_s"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            _dsum("value").alias("sum_value"),
        )
    )


SQL_Q06 = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_s, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Quality-rule analogs over `documents` (A1/A2 per-rule counts, A5 keep gate,
# F6 language filter — the engine's verdict semantics, DuckDB-checkable)
# ---------------------------------------------------------------------------


def _doc_feats(spark: SparkSession, sf: str) -> DataFrame:
    toks = _TOKS_SPARK.format(c="text")
    # tokenize ONCE into a column, then derive every feature from it —
    # inlining `toks` into each feature expression re-runs the regex split
    # per feature (same fusion as q11/dd02). Checkpointed: NINE queries
    # consume this projection, and the tokenize + stopword-membership +
    # regex pass is the expensive part of each — one scratch table prices
    # them all (the dd02-signature pattern). _docs_par supplies the
    # SIZE-ADAPTIVE parallelism floor (skip the exchange on a small
    # corpus, fan out when the map work dominates).
    return _checkpoint(
        _docs_par(spark, sf).selectExpr(
            "doc_id", "lang", "source", "text", f"{toks} AS t"
        ).selectExpr(
            "doc_id", "lang", "source",
            "size(t) AS n_tokens",
            f"round(size(filter(t, x -> x IN ({_STOP_SQL}))) * 1.0"
            f" / greatest(size(t), 1), 6) AS stop_frac",
            "round(length(regexp_replace(lower(text), '[^a-z0-9]', '')) * 1.0"
            " / greatest(size(t), 1), 6) AS mean_word_len",
        ),
        "doc_feats", sf,
    )


_DOC_FEATS_SQL = f"""
  SELECT doc_id, lang, source,
         CAST(len({_TOKS_DUCK.format(c='text')}) AS INTEGER) AS n_tokens,
         ROUND(len(list_filter({_TOKS_DUCK.format(c='text')}, t -> t IN ({_STOP_SQL}))) * 1.0
               / greatest(len({_TOKS_DUCK.format(c='text')}), 1), 6) AS stop_frac,
         ROUND(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) * 1.0
               / greatest(len({_TOKS_DUCK.format(c='text')}), 1), 6) AS mean_word_len
  FROM documents
"""


def q07_doc_rule_hits(spark: SparkSession, sf: str) -> DataFrame:
    f = _doc_feats(spark, sf)
    agg = f.agg(
        F.count("*").alias("total"),
        F.sum(
            ((F.col("n_tokens") < DOC_MIN_TOKENS) | (F.col("n_tokens") > DOC_MAX_TOKENS)).cast("long")
        ).alias("h_len"),
        F.sum((F.col("stop_frac") < DOC_MIN_STOP_FRAC).cast("long")).alias("h_stop"),
        F.sum(
            ((F.col("mean_word_len") < TH.MIN_MEAN_WORD_LEN) | (F.col("mean_word_len") > TH.MAX_MEAN_WORD_LEN)).cast("long")
        ).alias("h_mwl"),
        F.sum((~F.col("lang").isin(*DOC_KEEP_LANGS)).cast("long")).alias("h_lang"),
    )
    pairs = F.array(
        F.struct(F.lit("doc_length").alias("rule"), F.col("h_len").alias("hits")),
        F.struct(F.lit("stopword_fraction").alias("rule"), F.col("h_stop").alias("hits")),
        F.struct(F.lit("mean_word_length").alias("rule"), F.col("h_mwl").alias("hits")),
        F.struct(F.lit("langid").alias("rule"), F.col("h_lang").alias("hits")),
    )
    return (
        agg.select(F.explode(pairs).alias("e"), "total")
        .select(
            F.col("e.rule").alias("rule"),
            F.col("e.hits").alias("hits"),
            F.round(100.0 * F.col("e.hits") / F.col("total"), 2).alias("pct"),
        )
    )


SQL_Q07 = f"""
WITH f AS ({_DOC_FEATS_SQL}),
a AS (SELECT COUNT(*) AS total,
             SUM(CASE WHEN n_tokens < {DOC_MIN_TOKENS} OR n_tokens > {DOC_MAX_TOKENS} THEN 1 ELSE 0 END) AS h_len,
             SUM(CASE WHEN stop_frac < {DOC_MIN_STOP_FRAC} THEN 1 ELSE 0 END) AS h_stop,
             SUM(CASE WHEN mean_word_len < {TH.MIN_MEAN_WORD_LEN} OR mean_word_len > {TH.MAX_MEAN_WORD_LEN} THEN 1 ELSE 0 END) AS h_mwl,
             SUM(CASE WHEN lang NOT IN {DOC_KEEP_LANGS!r} THEN 1 ELSE 0 END) AS h_lang
      FROM f)
SELECT 'doc_length' AS rule, CAST(h_len AS BIGINT) AS hits, ROUND(100.0 * h_len / total, 2) AS pct FROM a
UNION ALL SELECT 'stopword_fraction', CAST(h_stop AS BIGINT), ROUND(100.0 * h_stop / total, 2) FROM a
UNION ALL SELECT 'mean_word_length', CAST(h_mwl AS BIGINT), ROUND(100.0 * h_mwl / total, 2) FROM a
UNION ALL SELECT 'langid', CAST(h_lang AS BIGINT), ROUND(100.0 * h_lang / total, 2) FROM a
"""


def q08_keep_rate_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    f = _doc_feats(spark, sf)
    keep = (
        F.col("lang").isin(*DOC_KEEP_LANGS)
        & (F.col("n_tokens") >= DOC_MIN_TOKENS)
        & (F.col("n_tokens") <= DOC_MAX_TOKENS)
        & (F.col("stop_frac") >= DOC_MIN_STOP_FRAC)
    )
    return (
        f.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(keep.cast("long")).alias("n_keep"),
        )
        .withColumn("keep_pct", F.round(100.0 * F.col("n_keep") / F.col("n_docs"), 2))
    )


SQL_Q08 = f"""
WITH f AS ({_DOC_FEATS_SQL})
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN lang IN {DOC_KEEP_LANGS!r}
                 AND n_tokens BETWEEN {DOC_MIN_TOKENS} AND {DOC_MAX_TOKENS}
                 AND stop_frac >= {DOC_MIN_STOP_FRAC} THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       ROUND(100.0 * SUM(CASE WHEN lang IN {DOC_KEEP_LANGS!r}
                 AND n_tokens BETWEEN {DOC_MIN_TOKENS} AND {DOC_MAX_TOKENS}
                 AND stop_frac >= {DOC_MIN_STOP_FRAC} THEN 1 ELSE 0 END) / COUNT(*), 2) AS keep_pct
FROM f GROUP BY lang
"""


_LANGID_CASE = (
    "CASE WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es AND c_en > 0 THEN 'en' "
    "WHEN c_de >= c_fr AND c_de >= c_es AND c_de > 0 THEN 'de' "
    "WHEN c_fr >= c_es AND c_fr > 0 THEN 'fr' "
    "WHEN c_es > 0 THEN 'es' ELSE 'und' END AS pred"
)


def _langid_vote_cols(dialect: str, tok_expr: str | None = None) -> list[str]:
    out = []
    for lang in ("en", "de", "fr", "es"):
        words = ", ".join(f"'{w}'" for w in TH.STOPWORDS[lang])
        if dialect == "spark":
            toks = tok_expr or _TOKS_SPARK.format(c="text")
            out.append(f"size(filter({toks}, t -> t IN ({words}))) AS c_{lang}")
        else:
            toks = tok_expr or _TOKS_DUCK.format(c="text")
            out.append(f"len(list_filter({toks}, t -> t IN ({words}))) AS c_{lang}")
    return out


def q09_langid_vote(spark: SparkSession, sf: str) -> DataFrame:
    """Stopword-vote language ID (F6 language filter/normalize analog,
    pitfall_utils.py:6-39) — SQL-expressible variant of the pipeline's
    char-trigram model. Tokenizes once into a column, then votes per
    language off the materialized array (not 4 regex re-splits)."""
    d = _docs_par(spark, sf)
    toks = _TOKS_SPARK.format(c="text")
    return (
        d.selectExpr("lang", f"{toks} AS tk")
        .selectExpr("lang", *_langid_vote_cols("spark", tok_expr="tk"))
        .selectExpr("lang", _LANGID_CASE)
        .groupBy("lang", "pred")
        .agg(F.count("*").alias("n"))
    )


def _sql_q09() -> str:
    counts = ", ".join(_langid_vote_cols("duck"))
    return f"""
SELECT lang, pred, COUNT(*) AS n FROM (
  SELECT lang, {_LANGID_CASE} FROM (SELECT lang, {counts} FROM documents))
GROUP BY lang, pred
"""


def q10_token_stats_by_source(spark: SparkSession, sf: str) -> DataFrame:
    f = _doc_feats(spark, sf)
    return f.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.round(F.sum("n_tokens") / F.count("*"), 6).alias("avg_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )


SQL_Q10 = f"""
WITH f AS ({_DOC_FEATS_SQL})
SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       ROUND(SUM(n_tokens) * 1.0 / COUNT(*), 6) AS avg_tokens, MAX(n_tokens) AS max_tokens
FROM f GROUP BY source
"""


def q11_top_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs_par(spark, sf)
    toks = _TOKS_SPARK.format(c="text")
    # materialize tokens as a column first: inlining `toks` into the
    # transform lambda would re-run the regex split once per n-gram element
    # (observed 10x slowdown at sf0.1)
    t = d.selectExpr(f"{toks} AS t")
    # zip_with over shifted slices (O(1) per element), not
    # transform+slice (O(n) copy per interpreted-lambda element) — the
    # round-5 shingle-builder lesson; q11 keeps duplicates (no distinct)
    ng = (
        "CASE WHEN size(t) >= 3 THEN"
        " zip_with(slice(t, 1, size(t) - 2),"
        " zip_with(slice(t, 2, size(t) - 2), slice(t, 3, size(t) - 2),"
        " (b, c) -> concat(b, ' ', c)),"
        " (a, bc) -> concat(a, ' ', bc))"
        " ELSE CAST(array() AS array<string>) END"
    )
    return (
        t.selectExpr(f"explode({ng}) AS ngram")
        .groupBy("ngram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("ngram").asc())
        .limit(10)
    )


SQL_Q11 = f"""
SELECT ngram, COUNT(*) AS n FROM (
  SELECT unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
                i -> array_to_string(t[i:i+2], ' '))) AS ngram
  FROM (SELECT {_TOKS_DUCK.format(c='text')} AS t FROM documents))
GROUP BY ngram ORDER BY n DESC, ngram ASC LIMIT 10
"""


def q12_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Document fingerprint: md5 of the first 8 canonical tokens."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 20)
    toks = _TOKS_SPARK.format(c="text")
    return d.selectExpr(
        "doc_id", f"md5(concat_ws(' ', slice({toks}, 1, 8))) AS fp"
    )


SQL_Q12 = f"""
SELECT doc_id,
       md5(coalesce(array_to_string({_TOKS_DUCK.format(c='text')}[1:8], ' '), '')) AS fp
FROM documents WHERE doc_id < 20
"""


# ---------------------------------------------------------------------------
# Dedup family (exact, minhash LSH, n-gram jaccard, simhash) + similarity
# ---------------------------------------------------------------------------


def dd01_exact_groups(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup group table: hash of normalized text -> group size +
    representative (min doc_id). Scale path: one hash-partitioned groupBy."""
    d = _t(spark, sf, "documents")
    return (
        d.select(F.md5(F.lower(F.trim("text"))).alias("text_md5"), "doc_id")
        .groupBy("text_md5")
        .agg(F.min("doc_id").alias("rep_doc_id"), F.count("*").alias("n_docs"))
    )


SQL_DD01 = """
SELECT md5(lower(trim(text))) AS text_md5, MIN(doc_id) AS rep_doc_id, COUNT(*) AS n_docs
FROM documents GROUP BY 1
"""


# guarded: Spark's sequence(1, 0) is the DESCENDING [1, 0] (slice would
# then throw on start=0), while DuckDB's generate_series(1, 0) is empty —
# short documents need an explicit empty-array branch
# zip_with over three shifted slices, NOT transform(sequence, i ->
# slice(t, i, 3)): HOF lambdas are interpreted, and the slice form does
# O(n) array copying per element (O(n²) per doc) — the zip_with form's
# per-element work is O(1) string concat. Measured 4× faster on the
# sf0.1 shingle build with bit-identical output (round 5 A/B).
_SHINGLES_SPARK = (
    "CASE WHEN size({t}) >= 3 THEN"
    " array_distinct(zip_with(slice({t}, 1, size({t}) - 2),"
    " zip_with(slice({t}, 2, size({t}) - 2), slice({t}, 3, size({t}) - 2),"
    " (b, c) -> concat(b, ' ', c)),"
    " (a, bc) -> concat(a, ' ', bc)))"
    " ELSE CAST(array() AS array<string>) END"
)
_SHINGLES_DUCK = (
    "list_distinct(list_transform(generate_series(1, greatest(len({t}) - 2, 0)),"
    " i -> array_to_string({t}[i:i+2], ' ')))"
)


def _shingle_mat(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, sh): per-doc DISTINCT 3-token shingle arrays,
    checkpointed — the base table of the whole shingle family (dd02
    signatures + Jaccard verify, dd03's inverted index is this exploded,
    dd16/dd17's per-source sets re-key it by source).

    Built by handing whole Arrow batches to DuckDB inside mapInArrow
    (guide §4.2: vectorized native engine per batch beats interpreted
    Catalyst HOF lambdas): the zip_with shingle expression is
    interpreted per element in the JVM, and a round-6 A/B at 10x bench
    scale measured the DuckDB builder 2x faster (5.6 s vs 10.9 s noop)
    with an identical distinct-shingle set per doc (exceptAll diff 0 —
    the SQL here IS the oracle's shingle CTE, so cross-engine shingle
    parity is oracle-enforced). Strings stay Arrow-native end to end;
    an earlier mapInPandas attempt was 2x SLOWER because it
    materialized every token as a Python object. Element ORDER inside
    one doc's array may differ from array_distinct's first-occurrence
    order; every consumer is set-based (MIN over hashes, explode,
    array_intersect sizes), so results are unchanged."""
    d = _docs_par(spark, sf).select("doc_id", "text")
    toks = _TOKS_DUCK.format(c="text")
    shexpr = _SHINGLES_DUCK.format(t=toks)
    sql = (
        f"SELECT doc_id, sh FROM (SELECT doc_id, {shexpr} AS sh FROM _b) "
        "WHERE len(sh) > 0"  # empty docs have no near-dup notion
    )
    return _checkpoint(
        _duckdb_map(d, sql, "doc_id long, sh array<string>"), "dd02_sh", sf
    )


def _minhash_sql(key: str, key_type: str, unnest: bool) -> tuple[str, str]:
    """(sql, schema) of the per-batch MinHash kernel for _duckdb_map:
    NUM_HASHES affine-permutation MINs m0..m{NUM_HASHES-1} of every
    shingle's md5->int hash, grouped by `key`. `unnest` says the batch
    holds (key, sh) shingle ARRAYS rather than one shingle per row. The
    md5->int expression is the oracle's own hv CTE (integer arithmetic,
    bitwise-identical mins)."""
    src = f"(SELECT {key}, unnest(sh) AS sh FROM _b)" if unnest else "_b"
    # hex -> int via DuckDB's 0x string cast: measured 4.7x faster
    # than the strpos/list_sum emulation and value-identical
    hexpr = "CAST(('0x' || substring(md5(sh), 1, 8)) AS BIGINT) % 2147483647"
    min_exprs = ", ".join(
        f"MIN(({2 * i + 1} * h + {1000003 * i + 12345}) % 2147483647) AS m{i}"
        for i in range(NUM_HASHES)
    )
    sql = (
        f"WITH hv AS (SELECT {key}, {hexpr} AS h FROM {src})"
        f" SELECT {key}, {min_exprs} FROM hv GROUP BY {key}"
    )
    schema = f"{key} {key_type}, " + ", ".join(
        f"m{i} long" for i in range(NUM_HASHES)
    )
    return sql, schema


def _dd02_candidates(spark: SparkSession, sf: str) -> tuple[DataFrame, DataFrame]:
    """The shared MinHash+LSH candidate stage: (cand, mat) where `cand`
    is the distinct (id_a < id_b) band-bucket candidate pairs and `mat`
    the checkpointed (doc_id, shingle-set) table. Consumed by dd02 (set
    Jaccard verify) and dd12 (weighted Jaccard verify).

    Classic minhash cost structure: ONE md5 per shingle -> 32-bit int,
    then NUM_HASHES cheap affine permutations (a_i*h + b_i) mod p. The
    permutation mins run as 128 DuckDB MIN aggregates per Arrow batch
    (see the inline comment at the signature build) — a map-only stage,
    since each doc's shingles arrive as one row."""
    mat = _shingle_mat(spark, sf)  # one checkpointed pass; 3 consumers below
    # Signature build runs per Arrow batch in DuckDB (guide §4.2, the
    # _tok_counts pattern): each doc's shingle array is one whole row,
    # so a per-batch GROUP BY doc_id already yields the FINAL 128 mins —
    # the JVM explode + 128-MIN groupBy shuffled ~unreduced exploded
    # rows (one doc never spans two map partitions, so partial
    # aggregation had nothing to combine). Zero Exchange in this stage.
    sig = _duckdb_map(mat, *_minhash_sql("doc_id", "long", unnest=True)).select(
        "doc_id", F.array(*[f"m{i}" for i in range(NUM_HASHES)]).alias("sig")
    )
    # checkpoint the tiny (doc_id, band_key) table: it feeds THREE
    # subtrees (the hot-band count, the anti-join left side, and the
    # self-join right side), and without materialization each one
    # re-runs the md5 + 128-MIN signature pipeline — the sig pass was
    # measured to run ~3x inside this builder (guide §2.4: share one
    # computation instead of re-deriving it per consumer)
    bands = _checkpoint(
        sig.selectExpr(
            "doc_id",
            f"explode(transform(sequence(0, {NUM_BANDS - 1}),"
            f" b -> concat(cast(b AS string), ':',"
            f" md5(array_join(transform(slice(sig, b * {ROWS_PER_BAND} + 1, {ROWS_PER_BAND}),"
            f" x -> cast(x AS string)), '|')))))"
            " AS band_key",
        ),
        "dd02_bands", sf, rebalance=True,
    )
    hot = (
        bands.groupBy("band_key").agg(F.count("*").alias("n"))
        .filter(F.col("n") > BAND_CAP).select("band_key")
    )
    bands = bands.join(F.broadcast(hot), "band_key", "left_anti")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    # the candidate list is tiny but EXPENSIVE (md5 per shingle + 128 MIN
    # aggregates + banding self-join); five consumers re-derive it (dd02,
    # dd12, dd13, dd15, dd17), so checkpoint it like the shingle table
    cand = _checkpoint(cand, "dd02_cand", sf, rebalance=True)
    return cand, mat


def _cand_ids(cand: DataFrame) -> DataFrame:
    """Distinct doc ids present in the candidate pair list — the
    semi-join pruning key (guide §3.2) the verify-stage consumers
    (dd02/dd12/dd13/dd15) use to avoid shuffling per-doc feature tables
    for the ~90% of the corpus no candidate pair touches. Pruning only
    removes rows the inner joins could never match, so results are
    unchanged; AQE broadcasts the id list when it is small and falls
    back to a keyed semi-join at scale."""
    return (
        cand.selectExpr("id_a AS doc_id")
        .union(cand.selectExpr("id_b AS doc_id")).distinct()
    )


def dd02_minhash_lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup candidate pairs via MinHash+LSH banding (128 hashes / 16
    bands — production parameters, threshold ~0.71), verified by exact
    Jaccard >= t. Scale story: docs->signatures is one map-only pass,
    checkpointed to scratch parquet (NOT .cache(): signature+shingle tables
    at 100 TB live in a bucketed scratch table, not executor RAM); the
    band-bucket self-join shuffles (band_key, doc_id) pairs only; band
    buckets holding > BAND_CAP docs (viral templates) are dropped via a
    broadcast anti-join against the tiny hot-band list, bounding the
    worst-case candidate blowup inside any single key; Jaccard verification
    joins shingle sets back by doc_id (co-partitioned equi-joins), never a
    full cross product."""
    cand, mat = _dd02_candidates(spark, sf)
    # semi-join reduction (guide §3.2): only docs that appear in a
    # candidate pair need their shingle set shipped to the verify join —
    # the banding typically selects a small fraction of the corpus, so
    # pruning `mat` first cuts the heavy array-column shuffle ~10x.
    matc = mat.join(_cand_ids(cand), "doc_id", "left_semi")
    sa = matc.selectExpr("doc_id AS id_a", "sh AS sh_a")
    sb = matc.selectExpr("doc_id AS id_b", "sh AS sh_b")
    return (
        cand.join(sa, "id_a").join(sb, "id_b")
        .selectExpr(
            "id_a", "id_b",
            "round(size(array_intersect(sh_a, sh_b)) * CAST(1.0 AS DOUBLE)"
            " / size(array_distinct(concat(sh_a, sh_b))), 6) AS jaccard",
        )
        .filter(F.col("jaccard") >= JACCARD_T)
    )


def _sql_dd02_ctes() -> str:
    """The dd02 pipeline as a reusable CTE chain ending in `pairs`."""
    t = _TOKS_DUCK.format(c="text")
    return f"""sh AS (
  SELECT doc_id, {_SHINGLES_DUCK.format(t=t)} AS sh FROM documents
  WHERE len({_SHINGLES_DUCK.format(t=t)}) > 0),
hv AS (
  SELECT doc_id, sh,
         list_transform(sh, s ->
           CAST(list_sum(list_transform(generate_series(1, 8),
             j -> CAST(strpos('0123456789abcdef', substring(md5(s), CAST(j AS INTEGER), 1)) - 1 AS BIGINT)
                  << ((8 - CAST(j AS INTEGER)) * 4))) AS BIGINT) % 2147483647) AS hv
  FROM sh),
sig AS (
  SELECT doc_id, sh,
         list_transform(generate_series(0, {NUM_HASHES - 1}),
           i -> list_min(list_transform(hv,
             h -> ((2 * i + 1) * h + (1000003 * i + 12345)) % 2147483647))) AS sig
  FROM hv),
bands0 AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(0, {NUM_BANDS - 1}),
           b -> CAST(b AS VARCHAR) || ':' ||
                md5(array_to_string(sig[b * {ROWS_PER_BAND} + 1 : b * {ROWS_PER_BAND} + {ROWS_PER_BAND}], '|')))) AS band_key
  FROM sig),
hot AS (SELECT band_key FROM bands0 GROUP BY band_key HAVING COUNT(*) > {BAND_CAP}),
bands AS (SELECT * FROM bands0 WHERE band_key NOT IN (SELECT band_key FROM hot)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
pairs AS (
  SELECT id_a, id_b,
         ROUND(len(list_intersect(sa.sh, sb.sh)) * 1.0
               / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jaccard
  FROM cand JOIN sh sa ON cand.id_a = sa.doc_id JOIN sh sb ON cand.id_b = sb.doc_id
  WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0
        / len(list_distinct(list_concat(sa.sh, sb.sh))) >= {JACCARD_T})"""


def _sql_dd02() -> str:
    return f"WITH {_sql_dd02_ctes()}\nSELECT id_a, id_b, jaccard FROM pairs"


def dd06_dup_groups(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup GROUP formation: connected components over the dd02 near-dup
    pairs -> (doc_id, group_rep) with group_rep = min doc_id reachable.
    Every real dedup pipeline consumes groups (pick one representative,
    drop the rest), not pair lists.

    Spark algorithm: alternating large-star/small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") — each half-round is
    one groupBy-min + one equi-join over the edge set, which contracts
    toward stars (every node edged directly to its component minimum).
    Rounds grow with log(n), NOT with component diameter, so a
    pathological million-node duplicate chain converges in a handful of
    rounds where plain min-label propagation needs a million. Edges are
    checkpointed to scratch parquet per round (bounded lineage) and
    convergence is ONE action per round: (count, sum-of-xxhash64) over
    the canonical edge set, fixed point = unchanged stats.

    Oracle: an independent formulation — DuckDB recursive CTE computing
    min reachable node over the symmetric edge set."""
    from .operators.cc import largestar_components

    # the converged component table is consumed again by dd07 (and by the
    # bench's second pinned pass); the CC driver loop runs its actions
    # EAGERLY while this function body evaluates, so the keyed result
    # checkpoint alone could not stop a warm call from re-running every
    # round — short-circuit on the session cache BEFORE building the loop
    path = _ckpt_path("dd06_groups", sf)
    if path is not None:
        return spark.read.parquet(path)

    pairs = dd02_minhash_lsh_pairs(spark, sf).select("id_a", "id_b")

    def ckpt(df: DataFrame, tag: str) -> DataFrame:
        return _checkpoint(df, f"dd06_{tag}")

    return _checkpoint(largestar_components(pairs, ckpt), "dd06_groups", sf)


def _sql_dd06() -> str:
    return f"""
WITH RECURSIVE {_sql_dd02_ctes()},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs),
reach(id, r) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
SELECT id AS doc_id, MIN(r) AS group_rep FROM reach GROUP BY id
"""


def dd07_group_best(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup REPRESENTATIVE selection: for every near-dup group (dd06),
    keep the highest-quality member — what a real dedup pipeline actually
    emits (drop the rest, keep the best). Quality is the q20 composite as
    EXACT integer points (4/3/2/1) so the cross-engine argmax ordering has
    no float ties; ties break on the smaller doc_id.

    Scale shape: groups are bounded-size near-dup clusters, so the argmax
    window partitions on group_rep (hash-shuffled, no global sort)."""
    groups = dd06_dup_groups(spark, sf)
    f = _doc_feats(spark, sf)
    score10 = (
        F.when(F.col("n_tokens").between(DOC_MIN_TOKENS, DOC_MAX_TOKENS), 4).otherwise(0)
        + F.when(F.col("stop_frac") >= DOC_MIN_STOP_FRAC, 3).otherwise(0)
        + F.when(F.col("mean_word_len").between(
            TH.MIN_MEAN_WORD_LEN, TH.MAX_MEAN_WORD_LEN), 2).otherwise(0)
        + F.when(F.col("lang").isin(*DOC_KEEP_LANGS), 1).otherwise(0)
    )
    scored = groups.join(
        f.select("doc_id", score10.alias("score10")), "doc_id"
    )
    w = Window.partitionBy("group_rep").orderBy(
        F.col("score10").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .groupBy("group_rep")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias("best_doc_id"),
            F.max(F.when(F.col("rk") == 1, F.col("score10"))).alias("best_score10"),
            F.count("*").alias("n_docs"),
        )
    )


def _sql_dd07() -> str:
    return f"""
WITH RECURSIVE {_sql_dd02_ctes()},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs),
reach(id, r) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
groups AS (SELECT id AS doc_id, MIN(r) AS group_rep FROM reach GROUP BY id),
f AS ({_DOC_FEATS_SQL}),
scored AS (
  SELECT g.doc_id, g.group_rep,
         (CASE WHEN n_tokens BETWEEN {DOC_MIN_TOKENS} AND {DOC_MAX_TOKENS} THEN 4 ELSE 0 END)
         + (CASE WHEN stop_frac >= {DOC_MIN_STOP_FRAC} THEN 3 ELSE 0 END)
         + (CASE WHEN mean_word_len BETWEEN {TH.MIN_MEAN_WORD_LEN} AND {TH.MAX_MEAN_WORD_LEN} THEN 2 ELSE 0 END)
         + (CASE WHEN lang IN {DOC_KEEP_LANGS!r} THEN 1 ELSE 0 END) AS score10
  FROM groups g JOIN f ON g.doc_id = f.doc_id),
rk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY group_rep ORDER BY score10 DESC, doc_id ASC) AS rn
  FROM scored)
SELECT group_rep,
       MAX(CASE WHEN rn = 1 THEN doc_id END) AS best_doc_id,
       CAST(MAX(CASE WHEN rn = 1 THEN score10 END) AS INTEGER) AS best_score10,
       COUNT(*) AS n_docs
FROM rk GROUP BY group_rep
"""


def q27_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination check: per-document fraction of its
    distinct 3-gram shingles that also occur in a held-out benchmark set
    (every 97th document — the deterministic stand-in for an eval set).
    The overlap join is an inverted-index equi-join against the DISTINCT
    benchmark gram set, broadcast because benchmark sets are small by
    construction — never an all-pairs comparison. Exact integer
    overlap_micro; reported for doc_id < 300 (bounded output)."""
    d = _t(spark, sf, "documents")
    toks = _TOKS_SPARK.format(c="text")
    sh = d.selectExpr("doc_id", f"{toks} AS t").selectExpr(
        "doc_id", f"{_SHINGLES_SPARK.format(t='t')} AS sh"
    )
    bench = (
        sh.filter(F.col("doc_id") % 97 == 0)
        .selectExpr("explode(sh) AS s").distinct()
    )
    probe = (
        sh.filter((F.col("doc_id") % 97 != 0) & (F.col("doc_id") < 300))
        .filter(F.expr("size(sh) > 0"))
    )
    grams = probe.selectExpr("doc_id", "size(sh) AS n_grams", "explode(sh) AS s")
    hits = (
        grams.join(F.broadcast(bench), "s")
        .groupBy("doc_id").agg(F.count("*").alias("n_hit"))
    )
    return (
        probe.selectExpr("doc_id", "size(sh) AS n_grams")
        .join(hits, "doc_id", "left")
        .selectExpr(
            "doc_id", "n_grams",
            "CAST(coalesce(n_hit, 0) AS bigint) AS n_hit",
            "(1000000 * coalesce(n_hit, 0)) div n_grams AS overlap_micro",
        )
    )


def q28_mixing_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Domain-mixing weights: the per-source sampling weight that turns
    the corpus's actual token distribution into a uniform target mix
    (weight = target_share / actual_share, exact integer micro-units) —
    the quantity every training-mix config needs per domain. One partial-
    aggregated groupBy + a broadcast total."""
    d = _t(spark, sf, "documents")
    toks = _TOKS_SPARK.format(c="text")
    per_src = (
        d.selectExpr("source", f"size({toks}) AS n")
        .groupBy("source")
        .agg(F.sum("n").alias("src_tokens"), F.count("*").alias("n_docs"))
        # a source of only empty docs has no tokens to weight (and would
        # divide by zero — DuckDB raises, Spark yields NULL)
        .filter(F.col("src_tokens") > 0)
    )
    tot = per_src.agg(
        F.sum("src_tokens").alias("tt"),
        F.count("*").alias("n_sources"),
    )
    return per_src.crossJoin(F.broadcast(tot)).selectExpr(
        "source", "n_docs", "src_tokens",
        "(1000000 * src_tokens) div tt AS share_micro",
        "(1000000 * tt) div (n_sources * src_tokens) AS weight_micro",
    )


def _sql_q28() -> str:
    t = _TOKS_DUCK.format(c="text")
    return f"""
WITH per_src AS (
  SELECT source, CAST(SUM(len({t})) AS BIGINT) AS src_tokens, COUNT(*) AS n_docs
  FROM documents GROUP BY source HAVING SUM(len({t})) > 0),
tot AS (SELECT CAST(SUM(src_tokens) AS BIGINT) AS tt, COUNT(*) AS n_sources FROM per_src)
SELECT source, n_docs, src_tokens,
       CAST((1000000 * src_tokens) // tt AS BIGINT) AS share_micro,
       CAST((1000000 * tt) // (n_sources * src_tokens) AS BIGINT) AS weight_micro
FROM per_src, tot
"""


# sized to the synthetic corpus's token distribution (p25=32, p50=56,
# max~99 at sf0.01) so the histogram actually spreads; a production run
# would use model context lengths (512..8192)
_SEQ_BUCKETS = (16, 32, 48, 64, 96, 128)


def q29_packing_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence-packing histogram: documents bucketed by the smallest
    max-sequence-length that holds them (cap _SEQ_BUCKETS[-1] = 128,
    corpus-sized — production would use model context lengths 512..8192;
    docs over the cap land in the top bucket TRUNCATED to it), with the
    exact padding waste each bucket pays if packed one-doc-per-sequence —
    the sizing input for a packing/concatenation stage."""
    d = _t(spark, sf, "documents")
    toks = _TOKS_SPARK.format(c="text")
    cases = " ".join(
        f"WHEN n_tokens <= {b} THEN {b}" for b in _SEQ_BUCKETS
    )
    return (
        d.selectExpr(f"size({toks}) AS n_tokens")
        .filter("n_tokens > 0")
        .selectExpr(
            f"CASE {cases} ELSE {_SEQ_BUCKETS[-1]} END AS bucket",
            f"CASE WHEN n_tokens > {_SEQ_BUCKETS[-1]}"
            f" THEN {_SEQ_BUCKETS[-1]} ELSE n_tokens END AS kept",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("kept").alias("kept_tokens"),
        )
        .selectExpr(
            "bucket", "n_docs", "kept_tokens",
            "(1000000 * (bucket * n_docs - kept_tokens))"
            " div (bucket * n_docs) AS waste_micro",
        )
    )


def _sql_q29() -> str:
    t = _TOKS_DUCK.format(c="text")
    cases = " ".join(f"WHEN n_tokens <= {b} THEN {b}" for b in _SEQ_BUCKETS)
    top = _SEQ_BUCKETS[-1]
    return f"""
WITH n AS (SELECT len({t}) AS n_tokens FROM documents WHERE len({t}) > 0),
b AS (
  SELECT CASE {cases} ELSE {top} END AS bucket,
         CASE WHEN n_tokens > {top} THEN {top} ELSE n_tokens END AS kept
  FROM n)
SELECT CAST(bucket AS INTEGER) AS bucket, COUNT(*) AS n_docs,
       CAST(SUM(kept) AS BIGINT) AS kept_tokens,
       CAST((1000000 * (bucket * COUNT(*) - SUM(kept))) // (bucket * COUNT(*)) AS BIGINT) AS waste_micro
FROM b GROUP BY bucket
"""


def q30_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic weighted sampling — the op that APPLIES q28's mixing
    weights: keep each doc iff md5(doc_id)'s first 32 bits fall under the
    per-source acceptance threshold (capped at 1.0). Hash-threshold
    sampling is the only sampler that is reproducible across engines,
    partitionings, and retries — `TABLESAMPLE`/`rand()` are none of those.
    Output: per-source kept counts + exact expected threshold, verifying
    the sample hits the target mix."""
    d = _t(spark, sf, "documents")
    toks = _TOKS_SPARK.format(c="text")
    per_src = (
        d.selectExpr("source", "doc_id", f"size({toks}) AS n")
        .withColumn(
            "h32",
            F.expr("CAST(conv(substr(md5(CAST(doc_id AS string)), 1, 8), 16, 10) AS bigint)"),
        )
    )
    # tt / n_sources over the SAME filtered per-source aggregate q28 uses
    # (zero-token sources excluded), so q30 applies exactly q28's weights
    src_tok = (
        per_src.groupBy("source").agg(F.sum("n").alias("src_tokens"))
        .filter(F.col("src_tokens") > 0)
    )
    weights = (
        src_tok.crossJoin(F.broadcast(
            src_tok.agg(F.sum("src_tokens").alias("tt"),
                        F.count("*").alias("n_sources"))
        ))
        # acceptance ppm = min(1e6, weight) — uniform-target weight capped
        .selectExpr(
            "source",
            "least(CAST(1000000 AS bigint),"
            " (1000000 * tt) div (n_sources * src_tokens)) AS accept_ppm",
        )
    )
    return (
        per_src.join(F.broadcast(weights), "source")
        .filter(F.expr("h32 % 1000000 < accept_ppm"))
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"), F.max("accept_ppm").alias("accept_ppm"))
    )


def _sql_q30() -> str:
    t = _TOKS_DUCK.format(c="text")
    hex2int = (
        "CAST(list_sum(list_transform(generate_series(1, 8), j ->"
        " CAST(strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), CAST(j AS INTEGER), 1)) - 1 AS BIGINT)"
        " << ((8 - CAST(j AS INTEGER)) * 4))) AS BIGINT)"
    )
    return f"""
WITH per AS (
  SELECT source, doc_id, len({t}) AS n, {hex2int} AS h32 FROM documents),
st AS (
  SELECT source, CAST(SUM(n) AS BIGINT) AS src_tokens
  FROM per GROUP BY source HAVING SUM(n) > 0),
w AS (
  SELECT source,
         least(CAST(1000000 AS BIGINT),
               CAST((1000000 * tt) // (n_sources * src_tokens) AS BIGINT)) AS accept_ppm
  FROM st,
       (SELECT CAST(SUM(src_tokens) AS BIGINT) AS tt, COUNT(*) AS n_sources FROM st))
SELECT source, COUNT(*) AS n_kept, CAST(MAX(accept_ppm) AS BIGINT) AS accept_ppm
FROM per JOIN w USING (source)
WHERE h32 % 1000000 < accept_ppm
GROUP BY source
"""


_CHUNK_LEN = 64
_CHUNK_STRIDE = 48  # 16-token overlap


def q31_chunk_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Pre-training chunker: split each document's token stream into
    fixed-size overlapping windows (len 64, stride 48 — the standard
    sliding-window shape). Map-only: sequence + slice array expressions,
    one explode, no shuffle before the (bounded) output projection.
    Emits (doc_id, chunk_idx, n_chunk_tokens, chunk_md5) for doc_id < 200;
    the md5 is over the space-joined window so the oracle can verify the
    exact chunk CONTENT, not just counts."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    toks = _TOKS_SPARK.format(c="text")
    n_chunks = (
        f"CASE WHEN size(t) = 0 THEN 0"
        f" WHEN size(t) <= {_CHUNK_LEN} THEN 1"
        f" ELSE 1 + CAST(ceil((size(t) - {_CHUNK_LEN})"
        f" / CAST({_CHUNK_STRIDE} AS double)) AS int) END"
    )
    return (
        d.selectExpr("doc_id", f"{toks} AS t")
        .selectExpr("doc_id", "t", f"{n_chunks} AS nc")
        .filter("nc > 0")
        .selectExpr("doc_id", "t", "explode(sequence(0, nc - 1)) AS chunk_idx")
        .selectExpr(
            "doc_id", "chunk_idx",
            f"slice(t, chunk_idx * {_CHUNK_STRIDE} + 1, {_CHUNK_LEN}) AS w",
        )
        .selectExpr(
            "doc_id", "chunk_idx",
            "size(w) AS n_chunk_tokens",
            "md5(array_join(w, ' ')) AS chunk_md5",
        )
    )


def _sql_q31() -> str:
    t = _TOKS_DUCK.format(c="text")
    return f"""
WITH tk AS (SELECT doc_id, {t} AS t FROM documents WHERE doc_id < 200),
n AS (
  SELECT doc_id, t,
         CASE WHEN len(t) = 0 THEN 0
              WHEN len(t) <= {_CHUNK_LEN} THEN 1
              ELSE 1 + CAST(ceil((len(t) - {_CHUNK_LEN}) * 1.0 / {_CHUNK_STRIDE}) AS INTEGER) END AS nc
  FROM tk),
ex AS (
  SELECT doc_id, t, CAST(i AS INTEGER) AS chunk_idx
  FROM n, unnest(generate_series(0, nc - 1)) AS g(i)
  WHERE nc > 0),
w AS (
  SELECT doc_id, chunk_idx,
         t[chunk_idx * {_CHUNK_STRIDE} + 1 : chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_LEN}] AS w
  FROM ex)
SELECT doc_id, chunk_idx, CAST(len(w) AS INTEGER) AS n_chunk_tokens,
       md5(array_to_string(w, ' ')) AS chunk_md5
FROM w
"""


def _sql_q27() -> str:
    t = _TOKS_DUCK.format(c="text")
    return f"""
WITH sh AS (SELECT doc_id, {_SHINGLES_DUCK.format(t=t)} AS sh FROM documents),
bench AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id % 97 = 0),
probe AS (SELECT doc_id, sh FROM sh WHERE doc_id % 97 <> 0 AND doc_id < 300 AND len(sh) > 0),
grams AS (SELECT doc_id, unnest(sh) AS s FROM probe),
hits AS (SELECT doc_id, COUNT(*) AS n_hit FROM grams JOIN bench USING (s) GROUP BY doc_id)
SELECT p.doc_id, CAST(len(p.sh) AS INTEGER) AS n_grams,
       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       CAST((1000000 * coalesce(h.n_hit, 0)) // len(p.sh) AS BIGINT) AS overlap_micro
FROM probe p LEFT JOIN hits h ON p.doc_id = h.doc_id
"""


def dd03_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted shingle index
    (groupBy shingle -> co-occurring docs), not an all-pairs product.
    At scale the hot-shingle skew is bounded by dropping shingles with
    document frequency > 100 (stopword-shingle guard). That guard is
    SURFACED in the output: every pair row carries `n_hot_dropped`, the
    count of distinct shingles the guard removed from the index — on a
    template-heavy corpus (every shingle hot, e.g. the 200x stress
    corpus) the pair set is empty BY DESIGN, and dd03_drop_stats()
    reports the same counter plus how many docs it touched, so the
    zero-result mode is observable rather than silent (dd02's banded
    MinHash path is the operator that resolves such corpora)."""
    par = spark.sparkContext.defaultParallelism
    # the inverted index (doc_id, shingle) is exactly the shared shingle
    # table exploded — one checkpointed build (_shingle_mat) serves dd02,
    # dd03 and dd16/dd17 instead of three separate tokenize+shingle
    # passes; at 100 TB the inverted index is a scratch table, not a
    # .cache()
    inv0 = _shingle_mat(spark, sf).selectExpr("doc_id", "explode(sh) AS s")
    # drop stopword-shingles with document frequency > 100: broadcast the
    # tiny HOT list and anti-join (broadcasting the kept set would ship
    # nearly the whole vocabulary)
    hot = inv0.groupBy("s").agg(F.count("*").alias("df")).filter(F.col("df") > 100)
    # EXPLICIT numbered repartition by shingle before the pair-exploding
    # self-join: the index is small in BYTES (~tens of MB) but each kept
    # shingle fans out df*(df-1)/2 pair rows (~71M at sf1.0), so AQE's
    # byte-based partition coalescing would otherwise shrink the join to
    # 1-2 tasks and serialize the explosion — the guide §2 rule that
    # partition sizing must follow the work a partition GENERATES, not
    # its input bytes. A user-numbered repartition is exempt from AQE
    # coalescing, and both join sides reuse the one exchange.
    inv = inv0.join(F.broadcast(hot.select("s")), "s", "left_anti").repartition(
        par, "s"
    )
    a, b = inv.alias("a"), inv.alias("b")
    overlap = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    # shingles are distinct within a doc, so |shingle set| = index rows
    sizes = inv0.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    # guard audit: how many distinct shingles the df>100 cap dropped —
    # a 1-row aggregate broadcast onto every pair (costless: `hot` is
    # already computed for the anti-join)
    n_hot = hot.agg(F.count("*").alias("n_hot_dropped"))
    return (
        overlap
        .join(sizes.selectExpr("doc_id AS id_a", "n_sh AS n_a"), "id_a")
        .join(sizes.selectExpr("doc_id AS id_b", "n_sh AS n_b"), "id_b")
        .selectExpr(
            "id_a", "id_b",
            "round(inter * CAST(1.0 AS DOUBLE) / (n_a + n_b - inter), 6) AS jaccard",
        )
        .filter(F.col("jaccard") >= JACCARD_T)
        .crossJoin(F.broadcast(n_hot))
    )


def dd03_drop_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Companion audit for dd03's hot-shingle guard, for the corpus where
    the pair output itself is EMPTY (every shingle above the df cap —
    boilerplate/template-heavy crawls): one row with the number of
    distinct dropped shingles, the index rows they accounted for, and how
    many documents lost at least one shingle. Same checkpointed inverted
    index as dd03, so calling both prices one index build."""
    inv0 = _shingle_mat(spark, sf).selectExpr("doc_id", "explode(sh) AS s")
    hot = inv0.groupBy("s").agg(F.count("*").alias("df")).filter(F.col("df") > 100)
    dropped = inv0.join(F.broadcast(hot.select("s")), "s", "left_semi")
    return dropped.agg(
        F.countDistinct("s").alias("n_hot_dropped"),
        F.count("*").alias("n_index_rows_dropped"),
        F.countDistinct("doc_id").alias("n_docs_affected"),
    )


def _sql_dd03() -> str:
    t = _TOKS_DUCK.format(c="text")
    return f"""
WITH sh AS (SELECT doc_id, {_SHINGLES_DUCK.format(t=t)} AS sh FROM documents),
inv0 AS (SELECT doc_id, unnest(sh) AS s FROM sh),
freq AS (SELECT s FROM inv0 GROUP BY s HAVING COUNT(*) <= 100),
hot AS (SELECT COUNT(*) AS n_hot_dropped
        FROM (SELECT s FROM inv0 GROUP BY s HAVING COUNT(*) > 100)),
inv AS (SELECT doc_id, s FROM inv0 JOIN freq USING (s)),
overlap AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
sizes AS (SELECT doc_id, len(sh) AS n_sh FROM sh)
SELECT id_a, id_b, ROUND(inter * 1.0 / (na.n_sh + nb.n_sh - inter), 6) AS jaccard,
       n_hot_dropped
FROM overlap JOIN sizes na ON id_a = na.doc_id JOIN sizes nb ON id_b = nb.doc_id, hot
WHERE inter * 1.0 / (na.n_sh + nb.n_sh - inter) >= {JACCARD_T}
"""


_HEXDIG = "0123456789abcdef"


def dd04_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """64-bit SimHash per document (first 16 md5 hex nibbles of each
    distinct token, majority vote per bit), emitted as hex for doc_id<30."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 30)
    toks = _TOKS_SPARK.format(c="text")
    d = d.selectExpr("doc_id", f"array_distinct({toks}) AS dtoks")
    bitw = "(CASE bit WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)"
    vote = (
        "aggregate(dtoks, 0, (s, t) -> s + (CASE WHEN "
        f"((instr('{_HEXDIG}', substring(md5(t), nib + 1, 1)) - 1) div {bitw}) % 2 = 1 "
        f"THEN 1 ELSE -1 END))"
    )
    nibble = (
        f"aggregate(sequence(0, 3), 0, (acc, bit) -> "
        f"acc + (CASE WHEN ({vote}) > 0 THEN {bitw} ELSE 0 END))"
    )
    expr = (
        f"concat_ws('', transform(sequence(0, 15), nib -> "
        f"substring('{_HEXDIG}', 1 + {nibble}, 1)))"
    )
    return d.selectExpr("doc_id", f"{expr} AS simhash")


def _sql_dd04() -> str:
    t = _TOKS_DUCK.format(c="text")
    return f"""
SELECT doc_id,
  array_to_string(list_transform(generate_series(0, 15), nib ->
    substring('{_HEXDIG}',
      CAST(1 + list_sum(list_transform(generate_series(0, 3), bit ->
        CASE WHEN (
          list_sum(list_transform(list_distinct({t}), tk ->
            CASE WHEN
              ((strpos('{_HEXDIG}', substring(md5(tk), CAST(nib AS INTEGER) + 1, 1)) - 1)
               // (CASE bit WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END))
              % 2 = 1
            THEN 1 ELSE -1 END)) > 0)
        THEN (CASE bit WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)
        ELSE 0 END)) AS INTEGER), 1)), '') AS simhash
FROM documents WHERE doc_id < 30
"""


# dd05 LSH amplification: L hash tables of K hyperplanes each. Candidates =
# pairs agreeing on ALL K signs in AT LEAST ONE table (OR-of-ANDs). For a
# pair at cosine c, P(candidate) = 1-(1-p^K)^L with p = 1-acos(c)/pi. K
# controls candidate volume (random-pair rate ~ L/2^K: ~6% here), L buys
# recall back; at 100 TB, K grows with corpus size (K ~ log2(n/bucket))
# and the shuffle is always an equi-join on (table, bucket), never
# all-pairs. MULTI-PROBE (distance-1): the probe side of the self-join
# emits, per table, the base signature PLUS every single-bit flip (K+1
# keys); the build side emits the base only. A pair within Hamming
# distance 1 in ANY table becomes a candidate, lifting per-table match
# probability from p^K to p^K + K*p^(K-1)*(1-p) at the cost of a (K+1)x
# larger probe side — cheaper than the extra hash tables that would buy
# the same recall (L' ~= 5L), and the join stays an equi-join. With
# K=8/L=8 + probe-1 the boundary recall model gives ~0.99 at cosine 0.8
# and ~0.77 at 0.45 (measured figures in PLANS.md §6), while the
# random-pair candidate rate stays ~(K+1)*L/2^K ~= 28%. At 100 TB, K
# grows with corpus size (K ~ log2(n/bucket)) and probing radius 1 keeps
# the probe-side blowup linear in K.
DD05_TABLES = 8
DD05_PLANES = 8


def _flip_bit(sig: str, i: int) -> str:
    """Expr (valid in BOTH dialects) flipping char i (0-based) of the
    K-char sign signature `sig`."""
    p = i + 1
    flip = f"(CASE WHEN substr({sig}, {p}, 1) = '1' THEN '0' ELSE '1' END)"
    head = f"substr({sig}, 1, {p - 1}), " if i > 0 else ""
    tail = f", substr({sig}, {p + 1})" if i < DD05_PLANES - 1 else ""
    return f"concat({head}{flip}{tail})"


def _dd05_unit(spark: SparkSession, sf: str) -> DataFrame:
    """(vec_id, u): L2-normalized embeddings, computed once and
    checkpointed — cosine = plain dot product downstream. Shared by
    dd05 (LSH-bucketed pairs) and dd14 (cluster-scoped SemDeDup)."""
    norm = "sqrt(aggregate(transform(v, x -> x * x), CAST(0 AS double), (acc, x) -> acc + x))"
    par = spark.sparkContext.defaultParallelism
    # repartition before normalizing: the single-row-group embeddings
    # file scans as ONE task, and every consumer of this checkpoint
    # (dd05 signatures, sim08 cluster blocks, sim04) inherits its file
    # count as map parallelism
    # name the norm BEFORE the divide-transform: inlined, the aggregate
    # is re-evaluated inside the lambda for EVERY element (O(dim²)
    # interpreted work per row); as an attribute ref it computes once
    # per row — identical doubles, same division
    e = (
        _t(spark, sf, "embeddings").repartition(par, "vec_id")
        .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS double)) AS v")
        .selectExpr("vec_id", "v", f"{norm} AS nrm")
        .selectExpr("vec_id", "transform(v, x -> x / nrm) AS u")
    )
    return _checkpoint(e, "dd05_unit", sf)


_UNIT_MAT_CACHE: dict[str, tuple] = {}


def _load_unit_matrix(path: str):
    """Worker-side loader for the _dd05_unit checkpoint: (sorted vec_ids,
    unit matrix). Module-level cache so a reused Python worker loads the
    ~n*dim*8-byte matrix once per process, not per batch (guide §4.5).
    On a cluster the scratch checkpoint lives on shared storage — the
    same place the equi-join shuffle would have read it from."""
    hit = _UNIT_MAT_CACHE.get(path)
    if hit is not None:
        return hit
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    ids = np.asarray(tbl.column("vec_id").to_numpy())
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    col = tbl.column("u").combine_chunks()
    flat = np.asarray(col.flatten().to_numpy(zero_copy_only=False))
    lens = np.diff(np.asarray(col.offsets.to_numpy()))
    if len(lens) and (lens == lens[0]).all():
        # fixed-dim vectors: reshape the Arrow values buffer directly —
        # to_pylist() materialized ~n*dim Python floats (seconds per
        # worker at sf1.0)
        mat = flat.reshape(len(lens), int(lens[0]))[order].astype(np.float64)
    else:
        mat = np.stack(col.to_pylist())[order].astype(np.float64)
    _UNIT_MAT_CACHE[path] = (ids, mat)
    return ids, mat


_ASG_CACHE: dict[str, object] = {}


def _load_assignment(path: str, ids):
    """Worker-side loader for the sim08 assignment checkpoint: the cid
    array aligned with the unit matrix's sorted vec_id order. Cached per
    process like the unit matrix."""
    hit = _ASG_CACHE.get(path)
    if hit is not None:
        return hit
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    v = np.asarray(tbl.column("vec_id").to_numpy())
    c = np.asarray(tbl.column("cid").to_numpy())
    order = np.argsort(v, kind="stable")
    aligned = c[order][np.searchsorted(v[order], ids)]
    _ASG_CACHE[path] = aligned
    return aligned


def _sig_int_table(
    spark: SparkSession, sf: str,
    n_tables: int, n_planes: int, seed0: int,
) -> DataFrame:
    """(vec_id, sig0..sig{T-1}): per-table hyperplane sign signatures as
    PACKED INTEGERS (bit i = plane i's sign), computed vectorized in one
    mapInPandas pass over the shared unit-vector checkpoint.
    Bitwise-identical partitioning to the per-plane SQL expressions: each
    plane's dot accumulates column-by-column in float64 (the SQL
    left-fold), and the sign test is the same `>= 0`. Integer signatures
    make the downstream bucket keys 8-byte ints instead of strings
    (narrower shuffle, guide §2.3) and bit-flips a plain XOR. Shared by
    dd05 (seed 177) and sim04 (seed 377)."""
    import pandas as pd

    mat = _dd05_unit(spark, sf)
    planes = [
        _hyperplanes(n_planes=n_planes, seed=seed0 + t)
        for t in range(n_tables)
    ]
    schema = "vec_id long, " + ", ".join(
        f"sig{t} long" for t in range(n_tables)
    )

    def sigfn(it):
        import numpy as np

        pl = np.asarray(planes)  # (T, K, dim)
        for pdf in it:
            if len(pdf) == 0:
                continue
            u = np.stack(pdf["u"].to_numpy()).astype(np.float64, copy=False)
            n, dim = u.shape
            out = {"vec_id": pdf["vec_id"].to_numpy()}
            for t in range(n_tables):
                sig = np.zeros(n, dtype=np.int64)
                for k in range(n_planes):
                    acc = np.zeros(n)
                    for j in range(dim):  # column fold == SQL aggregate
                        acc += u[:, j] * pl[t, k, j]
                    sig |= (acc >= 0).astype(np.int64) << k
                out[f"sig{t}"] = sig
            yield pd.DataFrame(out)

    return mat.mapInPandas(sigfn, schema)


def _dd05_sig_table(spark: SparkSession, sf: str) -> DataFrame:
    return _sig_int_table(spark, sf, DD05_TABLES, DD05_PLANES, 177)


def dd05_embedding_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via multi-table hyperplane LSH:
    vectors are L2-normalized ONCE and checkpointed (cosine = plain dot
    product afterwards — a third of the per-pair flops); bucket assignment
    is map-only (vectorized, _dd05_sig_table); the candidate self-join is
    an equi-join on an integer (table_id, bucket) key moving (key, vec_id)
    pairs only; the dot product is verified exactly on the deduplicated
    candidates by a vectorized NumPy rescore against the worker-cached
    unit-vector checkpoint — the candidate rows ship 16 bytes/pair instead
    of 2*dim doubles (guide §8: decide with small rows). No unblocked
    theta-join anywhere in the plan. (Label is deliberately NOT a blocking
    key: in this corpus most >=0.45 pairs are cross-label, so metadata
    blocking would be semantically wrong.)"""
    import pandas as pd

    _dd05_unit(spark, sf)  # ensure the checkpoint exists for the rescore
    unit_path = _ckpt_path("dd05_unit", sf)
    sigs = _dd05_sig_table(spark, sf)
    base_keys, probe_keys = [], []
    for tbl in range(DD05_TABLES):
        base_keys.append(f"{tbl * 256}L + sig{tbl}")
        probe_keys.append(f"{tbl * 256}L + sig{tbl}")
        probe_keys += [
            f"{tbl * 256}L + (sig{tbl} ^ {1 << i}L)"
            for i in range(DD05_PLANES)
        ]
    # The candidate "join" never materializes pair ROWS in the JVM
    # (guide §8: decide with small rows): per bucket key, the probe and
    # base member lists are collected (1.6M id rows total — the ~50M
    # candidate pairs with multiplicity ~1.1 would otherwise be
    # generated as JVM join rows and shipped through Arrow), and the
    # pair enumeration + exact rescore happen vectorized inside one
    # mapInPandas over the bucket rows. The >=t filter kills ~99.97% of
    # pairs inside NumPy, so only survivors surface; a duplicate pair's
    # cos_sim is bit-identical, so the final dropDuplicates reproduces
    # the old distinct-then-verify set exactly. The bucket rows are
    # explicitly repartitioned: their bytes are tiny but their work is
    # |probe|x|base| per row — AQE's byte-based coalescing would
    # serialize the scoring (the dd03 rationale).
    par = spark.sparkContext.defaultParallelism
    base = sigs.selectExpr(
        "vec_id", f"explode(array({', '.join(base_keys)})) AS bucket_key"
    )
    probe = sigs.selectExpr(
        "vec_id", f"explode(array({', '.join(probe_keys)})) AS bucket_key"
    )
    bm = base.groupBy("bucket_key").agg(F.collect_list("vec_id").alias("bids"))
    pm = probe.groupBy("bucket_key").agg(F.collect_list("vec_id").alias("pids"))
    # ROUND-ROBIN repartition (no key): a hash repartition on bucket_key
    # is optimizer-removed as redundant (the broadcast join preserves
    # pm's aggregation partitioning on the same key), which lets AQE
    # coalesce the agg exchange to a handful of tasks and serialize the
    # scoring; round-robin survives, and it also spreads the ~2k heavy
    # bucket rows evenly regardless of key hashing
    buckets = pm.join(bm, "bucket_key").select("pids", "bids").repartition(par)

    def score_buckets(it):
        import numpy as np

        ids, m = _load_unit_matrix(unit_path)
        dim = m.shape[1]

        for pdf in it:
            frames = []
            for pids, bids in zip(pdf["pids"], pdf["bids"]):
                pa = np.searchsorted(ids, np.sort(np.asarray(pids, dtype=np.int64)))
                ba = np.searchsorted(ids, np.sort(np.asarray(bids, dtype=np.int64)))
                up, ub = m[pa], m[ba]
                # cross-gram by column-ordered accumulation (== the SQL
                # left-fold); the |p|x|b| buffer is a few hundred KB, so
                # the 64 passes stay cache-resident — gathering per-pair
                # row matrices instead was measured 10x slower (DRAM-
                # bound on multi-GB temporaries)
                g = np.zeros((len(pa), len(ba)))
                t = np.empty_like(g)
                for j in range(dim):
                    np.multiply(up[:, j, None], ub[None, :, j], out=t)
                    g += t
                cos = _np_round6(g)
                # ids is sorted, so index order == id order: pa < ba is
                # exactly the old join's a.vec_id < b.vec_id
                keep = (cos >= COSINE_PAIR_T) & (pa[:, None] < ba[None, :])
                pi, bi = np.nonzero(keep)
                if len(pi):
                    frames.append(pd.DataFrame({
                        "id_a": ids[pa[pi]],
                        "id_b": ids[ba[bi]],
                        "cos_sim": cos[pi, bi],
                    }))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return buckets.mapInPandas(
        score_buckets, "id_a long, id_b long, cos_sim double"
    ).dropDuplicates(["id_a", "id_b"])


def _sql_dd05() -> str:
    sig_exprs, base_keys, probe_keys = [], [], []
    for tbl in range(DD05_TABLES):
        _, b_duck = _bucket_exprs("u", n_planes=DD05_PLANES, seed=177 + tbl)
        sig_exprs.append(f"{b_duck} AS sig{tbl}")
        base_keys.append(f"'{tbl}:' || sig{tbl}")
        probe_keys.append(f"'{tbl}:' || sig{tbl}")
        probe_keys += [
            f"'{tbl}:' || {_flip_bit(f'sig{tbl}', i)}"
            for i in range(DD05_PLANES)
        ]
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
un AS (SELECT vec_id,
              list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
       FROM e),
sigs AS (SELECT vec_id, {', '.join(sig_exprs)} FROM un),
base AS (SELECT vec_id, unnest([{', '.join(base_keys)}]) AS bucket_key FROM sigs),
probe AS (SELECT vec_id, unnest([{', '.join(probe_keys)}]) AS bucket_key FROM sigs),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM probe a JOIN base b ON a.bucket_key = b.bucket_key AND a.vec_id < b.vec_id)
SELECT id_a, id_b,
       ROUND(list_dot_product(va.u, vb.u), 6) AS cos_sim
FROM cand JOIN un va ON cand.id_a = va.vec_id JOIN un vb ON cand.id_b = vb.vec_id
WHERE ROUND(list_dot_product(va.u, vb.u), 6) >= {COSINE_PAIR_T}
"""


def sim01_ann_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-k for the query vector (vec_id=0)."""
    e = _t(spark, sf, "embeddings").selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS double)) AS v"
    )
    q = e.filter(F.col("vec_id") == 0).selectExpr("v AS qv")
    dot = "aggregate(zip_with(v, qv, (x, y) -> x * y), CAST(0 AS double), (acc, x) -> acc + x)"
    nv = "sqrt(aggregate(transform(v, x -> x * x), CAST(0 AS double), (acc, x) -> acc + x))"
    nq = "sqrt(aggregate(transform(qv, x -> x * x), CAST(0 AS double), (acc, x) -> acc + x))"
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .selectExpr("vec_id", f"round({dot} / ({nv} * {nq}), 6) AS cos_sim")
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(ANN_K)
    )


SQL_SIM01 = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT vec_id,
       ROUND(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
FROM e, q WHERE vec_id <> 0
ORDER BY cos_sim DESC, vec_id ASC LIMIT {ANN_K}
"""




# ---------------------------------------------------------------------------
# LSH-bucketed ANN (the scale path: candidate set = one hyperplane bucket,
# not the full corpus) + multimodal feature plumbing (rows-only check)
# ---------------------------------------------------------------------------

def _hyperplanes(n_planes: int = 6, seed: int = 77):
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, _EMB_DIM).round(6).tolist()


def _bucket_exprs(vcol: str, n_planes: int = 6, seed: int = 77) -> tuple[str, str]:
    """(spark_expr, duck_expr) computing the sign-bucket string of vcol."""
    planes = _hyperplanes(n_planes=n_planes, seed=seed)
    s_parts, d_parts = [], []
    for h in planes:
        lit_s = "array(" + ", ".join(f"CAST({x} AS double)" for x in h) + ")"
        lit_d = "[" + ", ".join(str(x) for x in h) + "]::DOUBLE[]"
        s_parts.append(
            f"(CASE WHEN aggregate(zip_with({vcol}, {lit_s}, (x, y) -> x * y),"
            f" CAST(0 AS double), (acc, x) -> acc + x) >= 0 THEN '1' ELSE '0' END)"
        )
        d_parts.append(
            f"(CASE WHEN list_dot_product({vcol}, {lit_d}) >= 0 THEN '1' ELSE '0' END)"
        )
    return "concat(" + ", ".join(s_parts) + ")", "concat(" + ", ".join(d_parts) + ")"


def sim02_ann_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-5 cosine neighbors of vec_id=0 WITHIN its hyperplane-LSH bucket.
    At scale: bucket assignment is map-only; the search shuffles one bucket
    (corpus/2^planes of the data) instead of broadcasting the corpus."""
    b_spark, _ = _bucket_exprs("v")
    e = _t(spark, sf, "embeddings").selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS double)) AS v"
    ).selectExpr("vec_id", "v", f"{b_spark} AS bkt")
    q = e.filter(F.col("vec_id") == 0).selectExpr("v AS qv", "bkt AS qbkt")
    dot = "aggregate(zip_with(v, qv, (x, y) -> x * y), CAST(0 AS double), (acc, x) -> acc + x)"
    nv = "sqrt(aggregate(transform(v, x -> x * x), CAST(0 AS double), (acc, x) -> acc + x))"
    nq = "sqrt(aggregate(transform(qv, x -> x * x), CAST(0 AS double), (acc, x) -> acc + x))"
    return (
        e.join(F.broadcast(q), F.col("bkt") == F.col("qbkt"))
        .filter(F.col("vec_id") != 0)
        .selectExpr("vec_id", "bkt", f"round({dot} / ({nv} * {nq}), 6) AS cos_sim")
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(5)
    )


def _sql_sim02() -> str:
    _, b_duck = _bucket_exprs("v")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {b_duck} AS bkt FROM e),
q AS (SELECT v AS qv, bkt AS qbkt FROM b WHERE vec_id = 0)
SELECT vec_id, bkt,
       ROUND(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
FROM b, q WHERE bkt = qbkt AND vec_id <> 0
ORDER BY cos_sim DESC, vec_id ASC LIMIT 5
"""


SIM04_TABLES = 4
SIM04_PLANES = 4
SIM04_K = 3
SIM04_NQ = 20


def sim04_batch_knn(spark: SparkSession, sf: str) -> DataFrame:
    """Batch kNN: EVERY query vector (vec_id < 20) gets its top-3 cosine
    neighbors among its LSH-bucket candidates — the all-queries-at-once
    kNN join (sim01/sim02 answer one query; a training pipeline labels
    the whole corpus). Plan: unit vectors (shared dd05 checkpoint) ->
    multi-table bucket explode -> query-side x corpus-side equi-join on
    bucket_key -> distinct (query, candidate) -> exact dot product ->
    per-query top-k via window rank. Shuffles move (bucket_key, vec_id)
    pairs and k rows per query — never a query x corpus product."""
    mat = _dd05_unit(spark, sf)
    # vectorized integer signatures (shared _sig_int_table machinery):
    # the 16 interpreted per-plane dot products per vector were the
    # dominant cost of this query; candidate-set equality only needs a
    # bijection of the bucket key, so 'tbl:bits' strings become
    # tbl*2^planes + bits ints
    sigs = _sig_int_table(spark, sf, SIM04_TABLES, SIM04_PLANES, 377)
    key_exprs = [
        f"{tbl * (1 << SIM04_PLANES)}L + sig{tbl}"
        for tbl in range(SIM04_TABLES)
    ]
    bkts = sigs.selectExpr(
        "vec_id", f"explode(array({', '.join(key_exprs)})) AS bucket_key"
    )
    qb = bkts.filter(F.col("vec_id") < SIM04_NQ)
    cand = (
        qb.alias("q").join(
            bkts.alias("c"),
            (F.col("q.bucket_key") == F.col("c.bucket_key"))
            & (F.col("q.vec_id") != F.col("c.vec_id")),
        )
        .select(F.col("q.vec_id").alias("qid"), F.col("c.vec_id").alias("nid"))
        .distinct()
    )
    dot = "aggregate(zip_with(qu, nu, (x, y) -> x * y), CAST(0 AS double), (acc, x) -> acc + x)"
    scored = (
        cand.join(mat.selectExpr("vec_id AS qid", "u AS qu"), "qid")
        .join(mat.selectExpr("vec_id AS nid", "u AS nu"), "nid")
        .selectExpr("qid", "nid", f"round({dot}, 6) AS cos_sim")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= SIM04_K)
        .select("qid", "rk", "nid", "cos_sim")
    )


def _sql_sim04() -> str:
    tbl_exprs = []
    for tbl in range(SIM04_TABLES):
        _, b_duck = _bucket_exprs("u", n_planes=SIM04_PLANES, seed=377 + tbl)
        tbl_exprs.append(f"'{tbl}:' || {b_duck}")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
un AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u FROM e),
bkts AS (SELECT vec_id, unnest([{', '.join(tbl_exprs)}]) AS bucket_key FROM un),
cand AS (
  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
  FROM bkts q JOIN bkts c ON q.bucket_key = c.bucket_key AND q.vec_id <> c.vec_id
  WHERE q.vec_id < {SIM04_NQ}),
scored AS (
  SELECT qid, nid, ROUND(list_dot_product(qu.u, cu.u), 6) AS cos_sim
  FROM cand JOIN un qu ON cand.qid = qu.vec_id JOIN un cu ON cand.nid = cu.vec_id)
SELECT qid, CAST(rk AS INTEGER) AS rk, nid, cos_sim FROM (
  SELECT qid, nid, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid ASC) AS rk
  FROM scored) WHERE rk <= {SIM04_K}
"""


def _media_table(spark: SparkSession, sf: str) -> DataFrame:
    """The synthesized media table, checkpointed: all four mm queries
    consume it (mm01 features, mm02 video frames, mm03 resize, mm04 image
    patches), and the md5-chain payload synthesis is ~66 Python hashlib
    calls per row — re-deriving it four times at the scan's 1-file
    parallelism dominated every mm row. Repartition first so the synthesis
    runs corpus-wide parallel; the per-row payload is a pure function of
    doc_id, so partitioning cannot change the rows."""
    from .operators.multimodal import synth_media_from_docs

    par = spark.sparkContext.defaultParallelism
    docs = _t(spark, sf, "documents").select("doc_id").repartition(par, "doc_id")
    return _checkpoint(synth_media_from_docs(docs), "media", sf)


def mm01_media_features(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal decode plumbing, ORACLE-CHECKED: media rows are derived
    from the documents table with content-defined md5-chain payloads
    (multimodal.payload_hex_chain), decoded by the Arrow-batched
    mapInPandas feature stage; the DuckDB oracle rebuilds the exact
    payload hex in SQL and recomputes every feature (byte count, sha256
    of the hex text, exact byte sum, frame count) — so the binary decode
    path itself is correctness-gated, not just row-counted."""
    from .operators.multimodal import extract_features

    feats = extract_features(_media_table(spark, sf))
    return feats.select(
        "media_id", "kind", "n_bytes", "sha256", "sum_bytes", "frame_count"
    )


def _sql_mm01() -> str:
    hex2int = (
        "CAST(list_sum(list_transform(generate_series(1, 8), j ->"
        " CAST(strpos('0123456789abcdef', substring({h}, CAST(j AS INTEGER), 1)) - 1 AS BIGINT)"
        " << ((8 - CAST(j AS INTEGER)) * 4))) AS BIGINT)"
    )
    from .operators.multimodal import MEDIA_SEED

    sz_md5 = f"md5('{MEDIA_SEED}:' || CAST(doc_id AS VARCHAR) || ':sz')"
    nib = "strpos('0123456789abcdef', substring(phex, 2 * CAST(j AS INTEGER) - {o}, 1)) - 1"
    return f"""
WITH m AS (
  SELECT doc_id AS media_id,
         (CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END) AS kind,
         64 + ({hex2int.format(h=f'substring({sz_md5}, 1, 8)')} % 1985) AS size
  FROM documents),
p AS (
  SELECT media_id, kind, size,
         substring(array_to_string(list_transform(
             generate_series(0, CAST((size + 15) // 16 AS INTEGER) - 1),
             b -> md5('{MEDIA_SEED}:' || CAST(media_id AS VARCHAR) || ':' || CAST(b AS VARCHAR))), ''),
           1, CAST(2 * size AS INTEGER)) AS phex
  FROM m)
SELECT media_id, kind, CAST(size AS INTEGER) AS n_bytes,
       sha256(phex) AS sha256,
       CAST(list_sum(list_transform(generate_series(1, CAST(size AS INTEGER)),
            j -> ({nib.format(o=1)}) * 16 + ({nib.format(o=0)}))) AS BIGINT) AS sum_bytes,
       CAST(CASE WHEN kind = 'image' THEN 1 ELSE greatest(size // 256, 1) END AS INTEGER) AS frame_count
FROM p
"""




def mm02_frame_samples(spark: SparkSession, sf: str) -> DataFrame:
    """Frame SAMPLING plumbing (the 1-row -> N-rows mapInPandas fan-out
    mm01 doesn't exercise): video-kind media yield up to 4 fixed-length
    byte-window "frames" at integer-spaced offsets, each with exact
    window features. The DuckDB oracle rebuilds the payload hex chain and
    recomputes every frame's offset, byte sum, and md5 — the fan-out
    arithmetic and window content are correctness-gated, not counted."""
    from .operators.multimodal import sample_frames

    media = _media_table(spark, sf).filter("kind = 'video'")
    return sample_frames(media).select(
        "media_id", "frame_idx", "start", "n", "sum_bytes", "frame_md5"
    )


def _sql_mm02() -> str:
    from .operators.multimodal import FRAME_LEN, MEDIA_SEED, N_FRAMES

    hex2int = (
        "CAST(list_sum(list_transform(generate_series(1, 8), j ->"
        " CAST(strpos('0123456789abcdef', substring({h}, CAST(j AS INTEGER), 1)) - 1 AS BIGINT)"
        " << ((8 - CAST(j AS INTEGER)) * 4))) AS BIGINT)"
    )
    sz_md5 = f"md5('{MEDIA_SEED}:' || CAST(doc_id AS VARCHAR) || ':sz')"
    nib = "strpos('0123456789abcdef', substring(wh, 2 * CAST(j AS INTEGER) - {o}, 1)) - 1"
    fl = FRAME_LEN
    return f"""
WITH m AS (
  SELECT doc_id AS media_id,
         64 + ({hex2int.format(h=f'substring({sz_md5}, 1, 8)')} % 1985) AS size
  FROM documents WHERE doc_id % 3 = 2),
p AS (
  SELECT media_id, size,
         substring(array_to_string(list_transform(
             generate_series(0, CAST((size + 15) // 16 AS INTEGER) - 1),
             b -> md5('{MEDIA_SEED}:' || CAST(media_id AS VARCHAR) || ':' || CAST(b AS VARCHAR))), ''),
           1, CAST(2 * size AS INTEGER)) AS phex
  FROM m),
fr AS (
  SELECT media_id, size, phex,
         CAST(unnest(generate_series(0,
           CASE WHEN size <= {fl} THEN 0 ELSE {N_FRAMES - 1} END)) AS INTEGER) AS frame_idx
  FROM p),
o AS (
  SELECT media_id, frame_idx,
         CAST(CASE WHEN size <= {fl} THEN 0
              ELSE frame_idx * ((size - {fl}) // {N_FRAMES - 1}) END AS INTEGER) AS start,
         CAST(CASE WHEN size <= {fl} THEN size ELSE {fl} END AS INTEGER) AS n,
         phex
  FROM fr),
w AS (
  SELECT media_id, frame_idx, start, n,
         substring(phex, CAST(2 * start + 1 AS INTEGER), CAST(2 * n AS INTEGER)) AS wh
  FROM o)
SELECT media_id, frame_idx, start, n,
       CAST(list_sum(list_transform(generate_series(1, n),
            j -> ({nib.format(o=1)}) * 16 + ({nib.format(o=0)}))) AS BIGINT) AS sum_bytes,
       md5(wh) AS frame_md5
FROM w
"""


def mm03_resize(spark: SparkSession, sf: str) -> DataFrame:
    """Resize plumbing: stride-decimated payload (every 4th byte) plus
    floor-scaled dimensions, checksummed over the decimated hex text so
    the DuckDB oracle rebuilds the OUTPUT bytes character-exactly from
    the payload hex chain — the downscale arithmetic and the decimated
    content are both gated."""
    from .operators.multimodal import resize_media

    return resize_media(_media_table(spark, sf)).select(
        "media_id", "kind", "out_w", "out_h", "out_bytes", "resized_md5"
    )


def _sql_mm03() -> str:
    from .operators.multimodal import MEDIA_SEED, RESIZE_STRIDE

    hex2int = (
        "CAST(list_sum(list_transform(generate_series(1, 8), j ->"
        " CAST(strpos('0123456789abcdef', substring({h}, CAST(j AS INTEGER), 1)) - 1 AS BIGINT)"
        " << ((8 - CAST(j AS INTEGER)) * 4))) AS BIGINT)"
    )
    sz_md5 = f"md5('{MEDIA_SEED}:' || CAST(doc_id AS VARCHAR) || ':sz')"
    w_md5 = f"md5('{MEDIA_SEED}:' || CAST(doc_id AS VARCHAR) || ':w')"
    h_md5 = f"md5('{MEDIA_SEED}:' || CAST(doc_id AS VARCHAR) || ':h')"
    st = RESIZE_STRIDE
    return f"""
WITH m AS (
  SELECT doc_id AS media_id,
         (CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END) AS kind,
         64 + ({hex2int.format(h=f'substring({sz_md5}, 1, 8)')} % 1985) AS size,
         8 + ({hex2int.format(h=f'substring({w_md5}, 1, 8)')} % 504) AS w,
         8 + ({hex2int.format(h=f'substring({h_md5}, 1, 8)')} % 504) AS h
  FROM documents),
p AS (
  SELECT media_id, kind, size, w, h,
         substring(array_to_string(list_transform(
             generate_series(0, CAST((size + 15) // 16 AS INTEGER) - 1),
             b -> md5('{MEDIA_SEED}:' || CAST(media_id AS VARCHAR) || ':' || CAST(b AS VARCHAR))), ''),
           1, CAST(2 * size AS INTEGER)) AS phex
  FROM m),
d AS (
  SELECT media_id, kind, w, h, size,
         array_to_string(list_transform(
             generate_series(0, CAST((size - 1) // {st} AS INTEGER)),
             j -> substring(phex, CAST(2 * j * {st} + 1 AS INTEGER), 2)), '') AS dh
  FROM p)
SELECT media_id, kind,
       CAST(greatest(w // {st}, 1) AS INTEGER) AS out_w,
       CAST(greatest(h // {st}, 1) AS INTEGER) AS out_h,
       CAST((size + {st} - 1) // {st} AS INTEGER) AS out_bytes,
       md5(dh) AS resized_md5
FROM d
"""


# ---------------------------------------------------------------------------
# Batch 2: semi-structured JSON (S3 scan shape), rollup grouping sets,
# pivot (A3 shape), set operations (U-ops), as-of join (custom operator:
# Spark lacks it -> composed as bounded join + lexicographic max;
# oracle uses an independent window formulation)
# ---------------------------------------------------------------------------


def q13_props_json(spark: SparkSession, sf: str) -> DataFrame:
    """JSON property extraction from the string `props` column (the
    reference's dynamic-JSON evidence parsing, S3/from_json shape)."""
    e = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.round(F.sum("k") / F.count("*"), 6).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


SQL_Q13 = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       ROUND(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) * 1.0 / COUNT(*), 6) AS avg_k,
       MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
FROM events GROUP BY event_type
"""


def q14_rollup_docs(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP grouping sets over (lang, source) with doc + token totals."""
    f = _doc_feats(spark, sf)
    return f.rollup("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
    )


SQL_Q14 = f"""
WITH f AS ({_DOC_FEATS_SQL})
SELECT lang, source, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
FROM f GROUP BY ROLLUP (lang, source)
"""


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q15_pivot_events(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot event counts per user into one column per event type."""
    e = _t(spark, sf, "events")
    aggs = [
        F.sum((F.col("event_type") == t).cast("long")).alias(f"n_{t}")
        for t in _EVENT_TYPES
    ]
    return e.groupBy("user_id").agg(*aggs)


SQL_Q15 = "SELECT user_id, " + ", ".join(
    f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}"
    for t in _EVENT_TYPES
) + " FROM events GROUP BY user_id"


def q16_setops(spark: SparkSession, sf: str) -> DataFrame:
    """Set operations: purchasers EXCEPT error-affected, UNION'd with
    (signups INTERSECT clickers), tagged by branch."""
    e = _t(spark, sf, "events")

    def users(t: str) -> DataFrame:
        return e.filter(F.col("event_type") == t).select("user_id").distinct()

    a = users("purchase").exceptAll(users("error")).distinct()
    b = users("signup").intersect(users("click"))
    return (
        a.withColumn("branch", F.lit("pure_purchasers"))
        .unionByName(b.withColumn("branch", F.lit("signup_clickers")))
    )


SQL_Q16 = """
SELECT user_id, 'pure_purchasers' AS branch FROM (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
  EXCEPT
  SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
UNION ALL
SELECT user_id, 'signup_clickers' AS branch FROM (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
  INTERSECT
  SELECT DISTINCT user_id FROM events WHERE event_type = 'click')
"""


def q17_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join (Spark has no native one — SURVEY/guide custom-operator
    slot): for each purchase event, the latest click of the SAME user
    at-or-before the purchase. Composed as an equi-join on user + bounded
    ts predicate + lexicographic max(struct(ts, event_id)) — deterministic
    under ts ties; the only shuffle is the per-user equi-join."""
    e = _t(spark, sf, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("c_id"),
        F.col("ts").alias("c_ts"),
    )
    j = p.join(c, (F.col("c_user") == F.col("p_user")) & (F.col("c_ts") <= F.col("p_ts")), "left")
    return (
        j.groupBy("purchase_id")
        .agg(F.max(F.struct("c_ts", "c_id")).alias("m"))
        .select(
            "purchase_id",
            F.col("m.c_id").alias("click_id"),
            F.date_format("m.c_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        )
    )


SQL_Q17 = """
SELECT purchase_id, click_id, strftime(c_ts, '%Y-%m-%d %H:%M:%S') AS click_ts FROM (
  SELECT p.event_id AS purchase_id, c.event_id AS click_id, c.ts AS c_ts,
         ROW_NUMBER() OVER (PARTITION BY p.event_id
                            ORDER BY c.ts DESC NULLS LAST, c.event_id DESC NULLS LAST) AS rk
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON c.user_id = p.user_id AND c.ts <= p.ts) WHERE rk = 1
"""




# ---------------------------------------------------------------------------
# Batch 3: IVF-style coarse quantization, composite quality score,
# grouped applyInPandas (exact-median custom aggregate)
# ---------------------------------------------------------------------------


def _ivf_embed(spark: SparkSession, sf: str) -> DataFrame:
    return _t(spark, sf, "embeddings").selectExpr(
        "vec_id", "label", "transform(embedding, x -> CAST(x AS double)) AS v"
    )


def _ivf_centroid_df(e: DataFrame) -> DataFrame:
    """Per-label centroid vectors via posexplode -> (label, pos) partial
    sums (64 keys/label; decimal for order-independent exactness)."""
    comp = e.selectExpr("label", "posexplode(v) AS (pos, x)")
    cent = (
        comp.groupBy("label", "pos")
        .agg(F.sum(F.col("x").cast("decimal(28,10)")).alias("s"), F.count("*").alias("n"))
        .selectExpr("label", "pos", "CAST(s / n AS double) AS c")
    )
    return (
        cent.groupBy("label")
        .agg(F.map_from_entries(F.sort_array(F.collect_list(F.struct("pos", "c")))).alias("m"))
        .selectExpr("label", "transform(sequence(0, 63), i -> m[i]) AS centroid")
    )


# the centroid CTE chain, reusable by q19 and sim03 oracles
_SQL_IVF_CENT_CTES = """e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
comp AS (SELECT label, gs.i - 1 AS pos, v[gs.i] AS x
         FROM e, generate_series(1, 64) AS gs(i)),
cent AS (SELECT label, pos, CAST(SUM(CAST(x AS DECIMAL(28,10))) / COUNT(*) AS DOUBLE) AS c
         FROM comp GROUP BY label, pos),
cv AS (SELECT label, list(c ORDER BY pos) AS centroid FROM cent GROUP BY label)"""


def q19_ivf_centroids(spark: SparkSession, sf: str) -> DataFrame:
    """IVF coarse-quantizer step: per-label centroid + the assignment
    residual summary. At scale: one partial-aggregated groupBy(label) over
    element-wise vector sums (no shuffle of raw vectors beyond the partial
    rows), then a broadcast join back for residuals."""
    e = _ivf_embed(spark, sf)
    cent_vec = _ivf_centroid_df(e)
    j = e.join(F.broadcast(cent_vec), "label")
    dist = (
        "sqrt(aggregate(zip_with(v, centroid, (a, b) -> (a - b) * (a - b)),"
        " CAST(0 AS double), (acc, x) -> acc + x))"
    )
    return (
        j.selectExpr("label", f"{dist} AS d")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.sum(F.col("d").cast("decimal(28,10)")) / F.count("*"), 6)
            .cast("double").alias("mean_dist"),
        )
    )


SQL_Q19 = f"""
WITH {_SQL_IVF_CENT_CTES},
d AS (SELECT e.label,
             sqrt(list_sum(list_transform(generate_series(1, 64),
                  i -> (v[i] - centroid[i]) * (v[i] - centroid[i])))) AS d
      FROM e JOIN cv ON e.label = cv.label)
SELECT label, COUNT(*) AS n_vecs,
       CAST(ROUND(SUM(CAST(d AS DECIMAL(28,10))) / COUNT(*), 6) AS DOUBLE) AS mean_dist
FROM d GROUP BY label
"""


def _ivf_probe(spark: SparkSession, sf: str, nprobe: int) -> DataFrame:
    """IVF search: assign the query vector (vec_id=0) to its `nprobe`
    nearest coarse centroids (10 tiny rows — broadcast), then scan ONLY
    those cells' vectors for the global top-10 by L2. At scale the corpus
    is partitioned by assigned label (the IVF lists), so the probe is a
    partition-pruned scan of nprobe/n_cells of the corpus — the point of
    IVF; no distance is computed outside the probed cells."""
    e = _ivf_embed(spark, sf)
    cent_vec = _ivf_centroid_df(e)
    q = e.filter(F.col("vec_id") == 0).selectExpr("v AS qv")
    dist_c = (
        "sqrt(aggregate(zip_with(centroid, qv, (a, b) -> (a - b) * (a - b)),"
        " CAST(0 AS double), (acc, x) -> acc + x))"
    )
    best = (
        cent_vec.crossJoin(F.broadcast(q))
        .selectExpr("label", "qv", f"{dist_c} AS dc")
        .orderBy(F.col("dc").asc(), F.col("label").asc())
        .limit(nprobe)
    )
    dist_v = (
        "sqrt(aggregate(zip_with(v, qv, (a, b) -> (a - b) * (a - b)),"
        " CAST(0 AS double), (acc, x) -> acc + x))"
    )
    return (
        e.join(F.broadcast(best.select("label", "qv")), "label")
        .filter(F.col("vec_id") != 0)
        .selectExpr("vec_id", "label", f"round({dist_v}, 6) AS dist")
        .orderBy(F.col("dist").asc(), F.col("vec_id").asc())
        .limit(10)
    )


def sim03_ivf_search(spark: SparkSession, sf: str) -> DataFrame:
    """IVF SEARCH completing q19's build step, nprobe=1: scan only the
    query vector's nearest cell (see _ivf_probe)."""
    return _ivf_probe(spark, sf, 1)


SQL_SIM03 = f"""
WITH {_SQL_IVF_CENT_CTES},
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
best AS (
  SELECT label, qv,
         sqrt(list_sum(list_transform(generate_series(1, 64),
              i -> (centroid[i] - qv[i]) * (centroid[i] - qv[i])))) AS dc
  FROM cv, q ORDER BY dc ASC, label ASC LIMIT 1)
SELECT vec_id, e.label,
       ROUND(sqrt(list_sum(list_transform(generate_series(1, 64),
             i -> (v[i] - qv[i]) * (v[i] - qv[i])))), 6) AS dist
FROM e JOIN best ON e.label = best.label
WHERE vec_id <> 0
ORDER BY dist ASC, vec_id ASC LIMIT 10
"""


def q20_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    """Composite quality score per document (weighted rule metrics),
    top-20 by score with a total order."""
    f = _doc_feats(spark, sf)
    score = (
        F.when(F.col("n_tokens").between(DOC_MIN_TOKENS, DOC_MAX_TOKENS), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when(F.col("stop_frac") >= DOC_MIN_STOP_FRAC, F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(F.col("mean_word_len").between(TH.MIN_MEAN_WORD_LEN, TH.MAX_MEAN_WORD_LEN), F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when(F.col("lang").isin(*DOC_KEEP_LANGS), F.lit(0.1)).otherwise(F.lit(0.0))
    )
    return (
        f.select("doc_id", F.round(score, 2).alias("quality"))
        .orderBy(F.col("quality").desc(), F.col("doc_id").asc())
        .limit(20)
    )


SQL_Q20 = f"""
WITH f AS ({_DOC_FEATS_SQL})
SELECT doc_id,
       CAST(ROUND((CASE WHEN n_tokens BETWEEN {DOC_MIN_TOKENS} AND {DOC_MAX_TOKENS} THEN 0.4 ELSE 0.0 END)
           + (CASE WHEN stop_frac >= {DOC_MIN_STOP_FRAC} THEN 0.3 ELSE 0.0 END)
           + (CASE WHEN mean_word_len BETWEEN {TH.MIN_MEAN_WORD_LEN} AND {TH.MAX_MEAN_WORD_LEN} THEN 0.2 ELSE 0.0 END)
           + (CASE WHEN lang IN {DOC_KEEP_LANGS!r} THEN 0.1 ELSE 0.0 END), 2) AS DOUBLE) AS quality
FROM f ORDER BY quality DESC, doc_id ASC LIMIT 20
"""


def q21_median_chars_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Exact lower-median of n_chars per source, two-phase & distributed:
    a window row_number over (source, n_chars) + a windowed count pick the
    value at rank ceil(n/2). Unlike a whole-group Python UDF, the per-group
    sort is Spark's spillable window sort — a skewed `source` never has to
    fit in one Python worker's memory. (The grouped-map applyInPandas
    formulation lives on as q21b, the SURVEY §2.9 grouped-UDF surface.)"""
    d = _t(spark, sf, "documents").select("source", "n_chars")
    w = Window.partitionBy("source").orderBy("n_chars")
    wc = Window.partitionBy("source")
    return (
        d.withColumn("rk", F.row_number().over(w))
        .withColumn("n", F.count("*").over(wc))
        .filter(F.col("rk") == F.floor((F.col("n") + 1) / 2))
        .select(
            "source",
            F.col("n").alias("n_docs"),
            F.col("n_chars").alias("median_chars"),
        )
    )


def q21b_median_grouped_udaf(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped-map applyInPandas variant of q21 (SURVEY §2.9 grouped-UDF
    surface; the reference's per-document detector-fanout shape,
    detect_pitfalls_main.py:327-358, lifted to per-group). Test-scale only
    by design: each group is materialized in one Python worker, so the
    default/scale path is q21's window formulation. Kept oracle-checked so
    the grouped-UDF surface itself stays correctness-gated."""
    import pandas as pd

    d = _t(spark, sf, "documents").select("source", "n_chars")

    def median_group(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["n_chars"].sort_values().to_numpy()
        k = (len(v) + 1) // 2 - 1  # lower median, 0-indexed
        return pd.DataFrame({
            "source": [pdf["source"].iloc[0]],
            "n_docs": [len(v)],
            "median_chars": [int(v[k])],
        })

    return d.groupBy("source").applyInPandas(
        median_group, "source string, n_docs long, median_chars long"
    )


SQL_Q21 = """
SELECT source, COUNT(*) AS n_docs, MAX(med) AS median_chars FROM (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n,
         CASE WHEN ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars)
                   = (COUNT(*) OVER (PARTITION BY source) + 1) // 2
              THEN n_chars END AS med
  FROM documents)
GROUP BY source
"""




def q23_tfidf_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 TF-IDF terms per source. IDF uses EXACT integer scaling
    (idf_micro = (N * 1e6) div (df + 1)) instead of float ln so Spark and
    DuckDB rank identically bit-for-bit — a float log differs in the last
    ulp across libm implementations and can flip near-tie rankings.
    Shuffle story: one explode -> (doc,term) counts with map-side combine;
    df is a second partial-aggregated groupBy; N joins as a broadcast
    1-row; per-source top-k is a window over the small (source, term)
    aggregate."""
    d = _docs_par(spark, sf)
    toks = _TOKS_SPARK.format(c="text")
    tf = (
        d.selectExpr("doc_id", "source", f"explode({toks}) AS term")
        .groupBy("doc_id", "source", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = d.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .selectExpr(
            "source", "term",
            "tf * ((n_docs * 1000000) div (df + 1)) AS sc",
        )
        .groupBy("source", "term")
        .agg(F.sum("sc").alias("score"))
    )
    w = Window.partitionBy("source").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("source", F.col("rk").cast("int").alias("rk"), "term", "score")
    )


def _sql_q23() -> str:
    t = _TOKS_DUCK.format(c="text")
    return f"""
WITH tok AS (SELECT doc_id, source, unnest({t}) AS term FROM documents),
tf AS (SELECT doc_id, source, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2, 3),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT source, term, CAST(SUM(tf * ((n_docs * 1000000) // (df + 1))) AS BIGINT) AS score
  FROM tf JOIN df USING (term), n GROUP BY source, term)
SELECT source, CAST(rk AS INTEGER) AS rk, term, score FROM (
  SELECT source, term, score,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY score DESC, term ASC) AS rk
  FROM scored) WHERE rk <= 3
"""


def q24_bigram_pmi(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 collocations: adjacent-bigram PMI with exact integer
    scaling (pmi_micro = (c_bigram * T * 1e6) div (c_w1 * c_w2), count >= 5)
    — the corpus-statistics shape (n-gram LM / tokenizer-vocab precursor).
    Unigram and bigram counts are two partial-aggregated groupBys; the
    bigram->unigram joins are equi-joins on the word."""
    d = _docs_par(spark, sf)
    toks = _TOKS_SPARK.format(c="text")
    t = d.selectExpr(f"{toks} AS t").filter(F.expr("size(t) >= 2"))
    big = (
        t.selectExpr(
            # zip_with over two shifted slices, NOT transform(sequence,
            # i -> element_at(...)): element_at is O(n) per access, so
            # the transform form is O(n²) per doc (the _SHINGLES_SPARK
            # lesson); identical pair list in identical order
            "explode(zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
            " (a, b) -> named_struct('w1', a, 'w2', b))) AS b"
        )
        .selectExpr("b.w1 AS w1", "b.w2 AS w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cb"))
        .filter(F.col("cb") >= 5)
    )
    uni = (
        d.selectExpr(f"explode({toks}) AS w")
        .groupBy("w")
        .agg(F.count("*").alias("cw"))
    )
    tot = d.selectExpr(f"size({toks}) AS n").agg(F.sum("n").alias("tt"))
    return (
        big.join(uni.selectExpr("w AS w1", "cw AS c1"), "w1")
        .join(uni.selectExpr("w AS w2", "cw AS c2"), "w2")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "concat(w1, ' ', w2) AS bigram", "cb",
            # widen through decimal(38,0): cb*tt*1e6 overflows int64 at
            # corpus scale (tt ~ 3e8 at sf1 alone), and Spark wraps
            # SILENTLY while DuckDB raises — the engines would diverge
            # exactly when the data gets big. `div` on decimals still
            # yields an exact BIGINT integral quotient in both engines.
            "CAST((CAST(cb AS decimal(38,0)) * tt * 1000000)"
            " div (CAST(c1 AS decimal(38,0)) * c2) AS bigint) AS pmi_micro",
        )
        .orderBy(F.col("pmi_micro").desc(), F.col("bigram").asc())
        .limit(20)
    )


def _sql_q24() -> str:
    t = _TOKS_DUCK.format(c="text")
    return f"""
WITH tk AS (SELECT {t} AS t FROM documents),
big AS (
  SELECT t[CAST(i AS INTEGER)] AS w1, t[CAST(i AS INTEGER) + 1] AS w2, COUNT(*) AS cb
  FROM tk, unnest(generate_series(1, len(t) - 1)) AS g(i)
  WHERE len(t) >= 2
  GROUP BY 1, 2 HAVING COUNT(*) >= 5),
uni AS (SELECT unnest(t) AS w FROM tk),
uc AS (SELECT w, COUNT(*) AS cw FROM uni GROUP BY w),
tot AS (SELECT CAST(SUM(len(t)) AS BIGINT) AS tt FROM tk)
SELECT w1 || ' ' || w2 AS bigram, cb,
       CAST((CAST(cb AS HUGEINT) * tt * 1000000)
            // (CAST(c1.cw AS HUGEINT) * c2.cw) AS BIGINT) AS pmi_micro
FROM big JOIN uc c1 ON big.w1 = c1.w JOIN uc c2 ON big.w2 = c2.w, tot
ORDER BY pmi_micro DESC, bigram ASC LIMIT 20
"""


def q25_vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer-vocabulary builder: top-30 tokens by corpus frequency
    with the CUMULATIVE corpus-coverage each vocabulary prefix buys
    (integer-scaled, (cum*1e6) div total) — the vocab-size-vs-coverage
    curve every BPE/tokenizer training run starts from. One explode ->
    partial-aggregated count, then a 30-row windowed cumsum."""
    d = _docs_par(spark, sf)
    toks = _TOKS_SPARK.format(c="text")
    uni = (
        d.selectExpr(f"explode({toks}) AS w")
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    tot = uni.agg(F.sum("n").alias("tt"))
    # Scale discipline: bound BOTH windows. Take the top-30 tokens first
    # via sort+limit (compiles to TakeOrderedAndProject — a per-partition
    # top-k + 30-row merge, no global sort), THEN run the row_number/cumsum
    # windows over exactly 30 rows. An unpartitioned Window over the full
    # distinct vocabulary would sort 10^9+ tokens in ONE task at corpus
    # scale; the cumsum for ranks 1..30 only ever involves those 30 rows,
    # so the bounded plan is exactly equivalent. Total token count joins
    # as a broadcast scalar.
    top = uni.orderBy(F.col("n").desc(), F.col("w").asc()).limit(30)
    order = Window.orderBy(F.col("n").desc(), F.col("w").asc())
    return (
        top.crossJoin(F.broadcast(tot))
        .withColumn("cum", F.sum("n").over(
            order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ))
        .withColumn("rk", F.row_number().over(order))
        .selectExpr(
            "CAST(rk AS int) AS rk", "w AS token", "n",
            "(cum * 1000000) div tt AS coverage_micro",
        )
    )


def _sql_q25() -> str:
    t = _TOKS_DUCK.format(c="text")
    return f"""
WITH uni AS (SELECT unnest({t}) AS w FROM documents),
uc AS (SELECT w, COUNT(*) AS n FROM uni GROUP BY w),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tt FROM uc),
ranked AS (
  SELECT w, n,
         SUM(n) OVER (ORDER BY n DESC, w ASC ROWS UNBOUNDED PRECEDING) AS cum,
         ROW_NUMBER() OVER (ORDER BY n DESC, w ASC) AS rk
  FROM uc)
SELECT CAST(rk AS INTEGER) AS rk, w AS token, n,
       CAST((cum * 1000000) // tt AS BIGINT) AS coverage_micro
FROM ranked, tot WHERE rk <= 30
"""


def q26_repeat_collapse(spark: SparkSession, sf: str) -> DataFrame:
    """Intra-document repetition normalization (the C4 repeated-span
    cleanup shape): collapse consecutive duplicate tokens, report the
    removed count and the fingerprint of the collapsed stream. Pure
    per-row array expressions — zero shuffle."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    toks = _TOKS_SPARK.format(c="text")
    # Guard the empty-token case: Spark's sequence(1, 0) is the DESCENDING
    # [1, 0], so an unguarded filter lambda would evaluate element_at(t, 0)
    # and crash the whole job on any zero-token document (DuckDB's
    # generate_series(1, 0) is empty, so the oracle diverges too).
    keep_idx = (
        "filter(sequence(1, size(t)),"
        " i -> i = 1 OR element_at(t, i) <> element_at(t, i - 1))"
    )
    collapsed = (
        f"CASE WHEN size(t) = 0 THEN CAST(array() AS array<string>)"
        f" ELSE transform({keep_idx}, i -> element_at(t, i)) END"
    )
    return (
        d.selectExpr("doc_id", f"{toks} AS t")
        .selectExpr("doc_id", "t", f"{collapsed} AS c")
        .selectExpr(
            "doc_id",
            "size(t) AS n_tokens",
            "size(c) AS n_collapsed",
            "md5(coalesce(array_join(c, ' '), '')) AS collapsed_md5",
        )
    )


def _sql_q26() -> str:
    t = _TOKS_DUCK.format(c="text")
    return f"""
WITH tk AS (SELECT doc_id, {t} AS t FROM documents WHERE doc_id < 100),
col AS (
  SELECT doc_id, t,
         CASE WHEN len(t) = 0 THEN []::VARCHAR[]
         ELSE list_transform(
           list_filter(generate_series(1, len(t)),
             i -> i = 1 OR t[CAST(i AS INTEGER)] <> t[CAST(i AS INTEGER) - 1]),
           i -> t[CAST(i AS INTEGER)]) END AS c
  FROM tk)
SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tokens,
       CAST(len(c) AS INTEGER) AS n_collapsed,
       md5(coalesce(array_to_string(c, ' '), '')) AS collapsed_md5
FROM col
"""


def q22_rolling_hash(spark: SparkSession, sf: str) -> DataFrame:
    """Polynomial rolling-hash document fingerprint (h = h*131 + code mod
    2^31-1) over the char codes of the first 48 chars of the canonical
    token stream — the classic streaming fingerprint, exact in both
    engines via an integer fold."""
    d = _t(spark, sf, "documents")
    toks = _TOKS_SPARK.format(c="text")
    prefix = f"substring(concat_ws(' ', {toks}), 1, 48)"
    h = (
        f"CASE WHEN length({prefix}) > 0 THEN"
        f" aggregate(sequence(1, length({prefix})),"
        f" CAST(0 AS bigint),"
        f" (h, i) -> (h * 131 + ascii(substring({prefix}, i, 1))) % 2147483647)"
        f" ELSE CAST(0 AS bigint) END"
    )
    return d.selectExpr("doc_id", f"{h} AS fp_hash").filter(F.col("doc_id") < 50)


def _sql_q22() -> str:
    toks = _TOKS_DUCK.format(c="text")
    prefix = f"substring(array_to_string({toks}, ' '), 1, 48)"
    return f"""
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(generate_series(1, length({prefix})),
           i -> CAST(ascii(substring({prefix}, CAST(i AS INTEGER), 1)) AS BIGINT))),
         (h, c) -> (h * 131 + c) % 2147483647) AS fp_hash
FROM documents WHERE doc_id < 50
"""


# ---------------------------------------------------------------------------
# Round-4 training-pipeline additions: pack assignment, split assignment,
# IVF multi-probe
# ---------------------------------------------------------------------------

_PACK_CAP = _SEQ_BUCKETS[-1]  # tokens per packed sequence (corpus-sized)


_PACK_SHARD = 256  # contiguous doc_id block per shard (scale: ~10^6)


def q32_pack_assignments(spark: SparkSession, sf: str) -> DataFrame:
    """GPT-style concat-and-chunk pack ASSIGNMENT (completes q29's sizing
    histogram): per source, documents in doc_id order form one token
    stream split into cap-token sequences; each doc is assigned the
    sequence range its tokens land in (docs may span sequences — the
    standard pretraining packing with document splitting).

    Scale shape: a naive per-source window sorts ONE source's whole
    stream in one task (5 TB/task at 100 TB with tens of sources), so
    the running sum is two-level: (1) within-shard exclusive cumsum over
    CONTIGUOUS doc_id blocks — shard order == global doc_id order, so
    results are identical to the single-stream formulation — and (2) a
    per-(source, shard) totals table (rows = docs/shard-size, tiny)
    whose own exclusive cumsum gives each shard's stream base, joined
    back broadcast. The DuckDB oracle keeps the naive single-window SQL,
    making this a genuine two-formulation equivalence check."""
    d = _t(spark, sf, "documents")
    toks = _TOKS_SPARK.format(c="text")
    n = d.selectExpr(
        "doc_id", "source", f"doc_id div {_PACK_SHARD} AS shard",
        f"size({toks}) AS n_tokens",
    )
    w_in = Window.partitionBy("source", "shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    within = n.withColumn(
        "in_off", F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))
    )
    w_sh = Window.partitionBy("source").orderBy("shard").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bases = (
        n.groupBy("source", "shard").agg(F.sum("n_tokens").alias("sh_tokens"))
        .withColumn(
            "sh_base", F.coalesce(F.sum("sh_tokens").over(w_sh), F.lit(0))
        )
        .select("source", "shard", "sh_base")
    )
    return (
        within.join(F.broadcast(bases), ["source", "shard"])
        .selectExpr(
            "doc_id", "source", "n_tokens",
            "sh_base + in_off AS start_off",
        )
        .filter(F.col("n_tokens") > 0)
        .selectExpr(
            "doc_id", "source", "CAST(n_tokens AS BIGINT) AS n_tokens",
            f"start_off div {_PACK_CAP} AS first_seq",
            f"(start_off + n_tokens - 1) div {_PACK_CAP} AS last_seq",
            f"(start_off + n_tokens - 1) div {_PACK_CAP}"
            f" - start_off div {_PACK_CAP} + 1 AS n_seqs",
        )
    )


def _sql_q32() -> str:
    t = _TOKS_DUCK.format(c="text")
    return f"""
WITH n AS (SELECT doc_id, source, CAST(len({t}) AS BIGINT) AS n_tokens FROM documents),
o AS (
  SELECT doc_id, source, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
  FROM n)
SELECT doc_id, source, n_tokens,
       CAST(start_off // {_PACK_CAP} AS BIGINT) AS first_seq,
       CAST((start_off + n_tokens - 1) // {_PACK_CAP} AS BIGINT) AS last_seq,
       CAST((start_off + n_tokens - 1) // {_PACK_CAP}
         - start_off // {_PACK_CAP} + 1 AS BIGINT) AS n_seqs
FROM o WHERE n_tokens > 0
"""


# train/val/test permille cut points (900/50/50)
_SPLIT_TRAIN, _SPLIT_VAL = 900, 950


def dd08_incremental_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental snapshot dedup — the production shape batch dedup ops
    miss: dedup an INCOMING batch (odd doc_id here; a new crawl snapshot
    in production) against the EXISTING corpus only. Per
    incoming doc: 'exact' (content md5 already in the corpus), else
    'near' (shares an LSH band bucket with an existing doc and verifies
    at Jaccard >= t), else 'new'; match_id = the matched existing doc.
    Intra-batch duplicates are deliberately out of scope (that's dd01/
    dd02's job on the batch itself).

    Reuses dd02's checkpointed shingle/signature/band machinery — at
    100 TB the existing side's band table is exactly that persisted
    scratch index, maintained snapshot-over-snapshot, so an incremental
    run prices at O(incoming), not O(corpus). The DuckDB oracle rebuilds
    the same chain from the shared dd02 CTEs."""
    d = _t(spark, sf, "documents")
    docs = d.selectExpr(
        "doc_id", "md5(lower(trim(text))) AS text_md5",
        "doc_id % 2 = 1 AS is_new",
    )
    incoming = docs.filter("is_new")
    existing = docs.filter("NOT is_new")
    exact = (
        incoming.alias("i").join(existing.alias("e"), "text_md5")
        .groupBy(F.col("i.doc_id").alias("doc_id"))
        .agg(F.min("e.doc_id").alias("exact_id"))
    )
    pairs = dd02_minhash_lsh_pairs(spark, sf).select("id_a", "id_b")
    near = (
        pairs.filter("(id_a % 2 = 1) <> (id_b % 2 = 1)")
        .selectExpr(
            "CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END AS doc_id",
            "CASE WHEN id_a % 2 = 1 THEN id_b ELSE id_a END AS ex_id",
        )
        .groupBy("doc_id").agg(F.min("ex_id").alias("near_id"))
    )
    return (
        incoming.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "CASE WHEN exact_id IS NOT NULL THEN 'exact'"
            " WHEN near_id IS NOT NULL THEN 'near' ELSE 'new' END AS verdict",
            "coalesce(exact_id, near_id) AS match_id",
        )
    )


def _sql_dd08() -> str:
    return f"""
WITH {_sql_dd02_ctes()},
docs AS (
  SELECT doc_id, md5(lower(trim(text))) AS text_md5, doc_id % 2 = 1 AS is_new
  FROM documents),
exact AS (
  SELECT i.doc_id, MIN(e.doc_id) AS exact_id
  FROM docs i JOIN docs e ON i.text_md5 = e.text_md5
  WHERE i.is_new AND NOT e.is_new GROUP BY i.doc_id),
near AS (
  SELECT CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END AS doc_id,
         MIN(CASE WHEN id_a % 2 = 1 THEN id_b ELSE id_a END) AS near_id
  FROM pairs WHERE (id_a % 2 = 1) <> (id_b % 2 = 1)
  GROUP BY 1)
SELECT d.doc_id,
       CASE WHEN exact_id IS NOT NULL THEN 'exact'
            WHEN near_id IS NOT NULL THEN 'near' ELSE 'new' END AS verdict,
       COALESCE(exact_id, near_id) AS match_id
FROM docs d LEFT JOIN exact USING (doc_id) LEFT JOIN near USING (doc_id)
WHERE d.is_new
"""


def q33_split_assign(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified train/val/test split summary: each doc's
    split is md5(doc_id) mod 1000 against fixed permille cut points —
    like q30's sampler, reproducible across engines, partitionings and
    retries (TABLESAMPLE/rand() are none of those). Output is the
    per-(source, split) doc/token tally a mixture config consumes; the
    split decision itself is a pure per-row projection (zero shuffle
    before the bounded summary groupBy)."""
    d = _t(spark, sf, "documents")
    toks = _TOKS_SPARK.format(c="text")
    h = "CAST(conv(substr(md5(CAST(doc_id AS string)), 1, 8), 16, 10) AS bigint)"
    split = (
        f"CASE WHEN {h} % 1000 < {_SPLIT_TRAIN} THEN 'train'"
        f" WHEN {h} % 1000 < {_SPLIT_VAL} THEN 'val' ELSE 'test' END"
    )
    return (
        d.selectExpr("source", f"{split} AS split", f"size({toks}) AS n")
        .groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"), F.sum("n").alias("n_tokens"))
    )


def _sql_q33() -> str:
    t = _TOKS_DUCK.format(c="text")
    hex2int = (
        "CAST(list_sum(list_transform(generate_series(1, 8), j ->"
        " CAST(strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), CAST(j AS INTEGER), 1)) - 1 AS BIGINT)"
        " << ((8 - CAST(j AS INTEGER)) * 4))) AS BIGINT)"
    )
    return f"""
WITH s AS (
  SELECT source,
         CASE WHEN {hex2int} % 1000 < {_SPLIT_TRAIN} THEN 'train'
              WHEN {hex2int} % 1000 < {_SPLIT_VAL} THEN 'val'
              ELSE 'test' END AS split,
         CAST(len({t}) AS BIGINT) AS n
  FROM documents)
SELECT source, split, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens
FROM s GROUP BY source, split
"""


# GPT-2-style pretokenizer, RE2-safe: the canonical pattern's trailing
# `\s+(?!\S)` lookahead is dropped (RE2/DuckDB has no lookahead) in favor
# of a plain whitespace-run branch — letters/digits/punctuation runs with
# optional leading space, exactly the BPE pre-split shape.
_BPE_RX = r"( ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n]+|[ \t\n]+)"


def q34_bpe_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """BPE-ish token accounting: per source, documents counted under the
    GPT-2-style pretokenizer regex vs the whitespace tokenizer, with the
    blowup ratio in exact integer micro-units — the number every token-
    budgeted mixture config needs (whitespace counts under-estimate BPE
    cost by the ratio reported here). Map-only scan + one combined
    groupBy; the regex runs inside codegen on both engines."""
    d = _docs_par(spark, sf)
    toks = _TOKS_SPARK.format(c="text")
    return (
        d.selectExpr(
            "source",
            f"size(regexp_extract_all(text, '{_BPE_RX}', 0)) AS n_bpe",
            f"size({toks}) AS n_ws",
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bpe").alias("bpe_tokens"),
            F.sum("n_ws").alias("ws_tokens"),
        )
        .filter(F.col("ws_tokens") > 0)
        .selectExpr(
            "source", "n_docs", "bpe_tokens", "ws_tokens",
            "(1000000 * bpe_tokens) div ws_tokens AS blowup_micro",
        )
    )


def _sql_q34() -> str:
    t = _TOKS_DUCK.format(c="text")
    return f"""
WITH n AS (
  SELECT source,
         CAST(len(regexp_extract_all(text, '{_BPE_RX}')) AS BIGINT) AS n_bpe,
         CAST(len({t}) AS BIGINT) AS n_ws
  FROM documents)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
       CAST(SUM(n_ws) AS BIGINT) AS ws_tokens,
       (1000000 * CAST(SUM(n_bpe) AS BIGINT)) // CAST(SUM(n_ws) AS BIGINT) AS blowup_micro
FROM n GROUP BY source HAVING SUM(n_ws) > 0
"""


def sim05_ivf_multiprobe(spark: SparkSession, sf: str) -> DataFrame:
    """IVF search with nprobe=2 (sim03 is nprobe=1): scan the TWO nearest
    cells and take the global top-10 — the standard recall knob when the
    true neighbor sits just across a Voronoi boundary (see _ivf_probe)."""
    return _ivf_probe(spark, sf, 2)


_SIM06_OVERSAMPLE = 4  # int8 screen keeps k*oversample candidates for rescore


def _sim06_screen(spark: SparkSession, sf: str, k: int) -> DataFrame:
    """int8 screening stage: per-vector symmetric max-abs quantization
    (scale = 127/max|x|, q = floor(x*scale + 0.5) ∈ [-127, 127]) and an
    INTEGER dot product between quantized query and corpus — the
    4×-smaller-storage / SIMD-integer path a 100 TB vector store scans.
    The floor(+0.5) form is used in BOTH engines because round() half-way
    semantics differ cross-engine; the integer dot is exactly
    reproducible, so it anchors the candidate ranking (the rescaled
    approximate cosine rides along, rounded)."""
    e = _t(spark, sf, "embeddings").selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS double)) AS v"
    )
    sc = "(CAST(127 AS double) / aggregate(v, CAST(0 AS double), (a, x) -> greatest(a, abs(x))))"
    nv = "sqrt(aggregate(transform(v, x -> x * x), CAST(0 AS double), (acc, x) -> acc + x))"
    qz = e.selectExpr(
        "vec_id", f"{sc} AS sc", f"{nv} AS nv",
    ).join(e, "vec_id").selectExpr(
        "vec_id", "sc", "nv",
        "transform(v, x -> CAST(floor(x * sc + 0.5) AS bigint)) AS qv",
    )
    q = qz.filter(F.col("vec_id") == 0).selectExpr(
        "qv AS qq", "sc AS sq", "nv AS nq"
    )
    idot = "aggregate(zip_with(qv, qq, (x, y) -> x * y), CAST(0 AS bigint), (acc, x) -> acc + x)"
    return (
        qz.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .selectExpr(
            "vec_id",
            f"{idot} AS dot_q",
            f"round(({idot}) / (sc * sq * nv * nq), 6) AS approx_cos",
        )
        .orderBy(F.col("approx_cos").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def sim06_quantized_topk(spark: SparkSession, sf: str) -> DataFrame:
    """int8 screen + EXACT rescore: the quantized integer-dot scan keeps
    the top k·{oversample} candidates by approximate cosine, then ONLY
    those candidates join back to the float vectors for an exact cosine,
    which decides the final top-k order. Scale shape: the rescore join is
    a broadcast of the ~k·oversample-row candidate set into the float
    scan — the corpus is never sorted or shuffled a second time, and the
    exact (double) math is paid for tens of rows, not the 100 TB store.
    Quantization error is bounded per component, so any vector whose true
    cosine would place it in the top k is screened in at modest
    oversampling (see test_sim06_rescore_flips_int8_order for a planted
    adversarial flip the rescore corrects)."""
    cand = _sim06_screen(spark, sf, ANN_K * _SIM06_OVERSAMPLE)
    e = _t(spark, sf, "embeddings").selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS double)) AS v"
    )
    qf = e.filter(F.col("vec_id") == 0).selectExpr("v AS qv")
    dot = "aggregate(zip_with(v, qv, (x, y) -> x * y), CAST(0 AS double), (acc, x) -> acc + x)"
    nv = "sqrt(aggregate(transform(v, x -> x * x), CAST(0 AS double), (acc, x) -> acc + x))"
    nq = "sqrt(aggregate(transform(qv, x -> x * x), CAST(0 AS double), (acc, x) -> acc + x))"
    return (
        e.join(F.broadcast(cand), "vec_id")
        .crossJoin(F.broadcast(qf))
        .selectExpr(
            "vec_id", "dot_q", "approx_cos",
            f"round({dot} / ({nv} * {nq}), 6) AS exact_cos",
        )
        .orderBy(F.col("exact_cos").desc(), F.col("vec_id").asc())
        .limit(ANN_K)
    )


SQL_SIM06 = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qz AS (
  SELECT vec_id,
         127.0 / list_max(list_transform(v, x -> abs(x))) AS sc,
         sqrt(list_dot_product(v, v)) AS nv,
         list_transform(v, x -> CAST(floor(x * (127.0 / list_max(list_transform(v, y -> abs(y)))) + 0.5) AS BIGINT)) AS qv
  FROM e),
q AS (SELECT qv AS qq, sc AS sq, nv AS nq FROM qz WHERE vec_id = 0),
scr AS (
  SELECT vec_id,
         CAST(list_sum(list_transform(generate_series(1, 64),
              i -> qv[i] * qq[i])) AS BIGINT) AS dot_q,
         ROUND(list_sum(list_transform(generate_series(1, 64),
              i -> qv[i] * qq[i])) / (sc * sq * nv * nq), 6) AS approx_cos
  FROM qz, q WHERE vec_id <> 0
  ORDER BY approx_cos DESC, vec_id ASC LIMIT {ANN_K * _SIM06_OVERSAMPLE}),
qf AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT scr.vec_id AS vec_id, dot_q, approx_cos,
       ROUND(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS exact_cos
FROM scr JOIN e ON scr.vec_id = e.vec_id, qf
ORDER BY exact_cos DESC, scr.vec_id ASC LIMIT {ANN_K}
"""


SQL_SIM05 = f"""
WITH {_SQL_IVF_CENT_CTES},
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
best2 AS (
  SELECT label, qv,
         sqrt(list_sum(list_transform(generate_series(1, 64),
              i -> (centroid[i] - qv[i]) * (centroid[i] - qv[i])))) AS dc
  FROM cv, q ORDER BY dc ASC, label ASC LIMIT 2)
SELECT vec_id, e.label,
       ROUND(sqrt(list_sum(list_transform(generate_series(1, 64),
             i -> (v[i] - qv[i]) * (v[i] - qv[i])))), 6) AS dist
FROM e JOIN best2 ON e.label = best2.label
WHERE vec_id <> 0
ORDER BY dist ASC, vec_id ASC LIMIT 10
"""


# ---------------------------------------------------------------------------
# Round-5 additions: Bloom prefilter, salted hot-key aggregation, binned
# quantile sketch, one k-means (Lloyd) iteration
# ---------------------------------------------------------------------------

_BLOOM_M = 8192  # filter bits (sized for the test corpus; scale: m ~ -n*ln(p)/ln(2)^2)
_BLOOM_K = 4     # probes per key


def _bloom_width() -> int:
    """Hex chars of md5 material per probe: enough that a probe's range
    covers m (else positions saturate below m and the filter caps out),
    at least 4. k probes * width must fit md5's 32 hex chars — k=4
    supports m up to 2^32."""
    need = (max(_BLOOM_M - 1, 1).bit_length() + 3) // 4
    w = max(4, need)
    if _BLOOM_K * w > 32:
        raise ValueError(f"BLOOM_M={_BLOOM_M} needs {w} hex chars/probe; "
                         f"{_BLOOM_K} probes exceed md5's 32")
    return w


def _bloom_pos_spark(j: int) -> str:
    """Probe j's bit position from its own w-char slice of the content
    md5 (4w bits of independent hash material, folded mod m)."""
    w = _bloom_width()
    return (
        f"CAST(conv(substr(h, {(j - 1) * w + 1}, {w}), 16, 10) AS bigint)"
        f" % {_BLOOM_M}"
    )


def _bloom_pos_duck(j: int) -> str:
    # DuckDB has no conv(); parse the w hex chars positionally
    w = _bloom_width()
    return (
        f"CAST(list_sum(list_transform(generate_series(1, {w}), c ->"
        " (strpos('0123456789abcdef',"
        f" substring(h, {(j - 1) * w} + CAST(c AS INTEGER), 1)) - 1)"
        f" << (({w} - CAST(c AS INTEGER)) * 4))) AS BIGINT)"
        f" % {_BLOOM_M}"
    )


def dd09_bloom_prefilter(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter membership PREFILTER for incremental dedup (the stage
    that runs before dd08's exact/near verification): the existing corpus
    (even doc_id, as in dd08) is folded into a deterministic m-bit Bloom
    filter (k probe positions from the content md5), and each incoming
    doc (odd doc_id) is tested against it. Output per incoming doc:
    `bloom_hit` (all k bits set — maybe-duplicate, route to verification)
    vs `actual` (true exact membership) vs `is_fp` (the audit column: hit
    but not a member, the filter's false-positive).

    Scale shape: the filter is the DISTINCT set of set bit positions —
    at most m rows (m bits) regardless of corpus size, produced by a
    partial-aggregating explode+distinct over the existing side, then
    broadcast to the incoming scan. The 100 TB incoming side is tested
    map-side (broadcast join; the per-doc re-agg combines before its
    exchange, moving ~1 row/doc); only the maybe-duplicate survivors pay
    dd08's band-join price. The `actual`/`is_fp` columns are the AUDIT —
    at production scale they are dropped (exact membership is what the
    filter exists to avoid), leaving the whole prefilter broadcast-only.
    Deterministic md5-derived probes make the same filter reproducible
    across engines, partitionings and retries. (Spark's native
    bloom_filter_agg/might_contain is the same shape with a packed
    bitmap; the explicit-position form is used here because its bits are
    engine-reproducible for the oracle.)"""
    d = _t(spark, sf, "documents")
    probes = ", ".join(_bloom_pos_spark(j) for j in range(1, _BLOOM_K + 1))
    # array_distinct (map-side) not .distinct() (a shuffle): probes can
    # collide WITHIN one doc, and the hit test below compares matched
    # count to the doc's distinct-probe count
    docs = d.selectExpr(
        "doc_id", "md5(lower(trim(text))) AS h", "doc_id % 2 = 1 AS is_new"
    ).selectExpr(
        "doc_id", "h", "is_new", f"array_distinct(array({probes})) AS pos"
    )
    # the existing side feeds TWO consumers (the bit table and the
    # membership audit) — checkpoint its (h, pos) projection once so the
    # corpus text is scanned and md5'd a single time, the dd02 scratch-
    # table pattern (key includes the FULL bloom geometry — m, k and the
    # derived width — so a stress tool overriding any of them never
    # reuses probe positions computed under the old geometry)
    ex = _checkpoint(
        docs.filter("NOT is_new").select("h", "pos"),
        "dd09_ex", sf, extra=(_BLOOM_M, _BLOOM_K, _bloom_width()),
        rebalance=True,
    )
    bits = ex.selectExpr("explode(pos) AS pos").distinct()
    # single linear flow over the incoming side (one scan, h carried
    # through): explode -> broadcast join on pos -> per-doc re-agg.
    # Explode preserves doc locality, so partial aggregation combines
    # each doc's k rows map-side and the groupBy exchange moves ~1
    # row/doc.
    hits = (
        docs.filter("is_new")
        .selectExpr("doc_id", "h", "explode(pos) AS pos")
        .join(F.broadcast(bits.withColumn("set1", F.lit(1))), "pos", "left")
        .groupBy("doc_id", "h")
        .agg((F.count("*") == F.count("set1")).alias("bloom_hit"))
    )
    existing_h = ex.select("h").distinct()
    return (
        hits.join(
            F.broadcast(existing_h.withColumn("actual", F.lit(True))),
            "h", "left",
        )
        .selectExpr(
            "doc_id", "bloom_hit",
            "coalesce(actual, false) AS actual",
            "bloom_hit AND NOT coalesce(actual, false) AS is_fp",
        )
    )


def _sql_dd09() -> str:
    probes = ", ".join(_bloom_pos_duck(j) for j in range(1, _BLOOM_K + 1))
    return f"""
WITH docs AS (
  SELECT doc_id, md5(lower(trim(text))) AS h, doc_id % 2 = 1 AS is_new
  FROM documents),
p AS (SELECT doc_id, h, is_new, [{probes}] AS pos FROM docs),
bits AS (
  SELECT DISTINCT unnest(pos) AS pos FROM p WHERE NOT is_new),
inc_pos AS (
  SELECT DISTINCT doc_id, unnest(pos) AS pos FROM p WHERE is_new),
hits AS (
  SELECT i.doc_id, COUNT(*) = COUNT(b.pos) AS bloom_hit
  FROM inc_pos i LEFT JOIN bits b USING (pos) GROUP BY i.doc_id),
member AS (
  SELECT DISTINCT i.doc_id FROM p i
  WHERE i.is_new AND EXISTS (
    SELECT 1 FROM p e WHERE NOT e.is_new AND e.h = i.h))
SELECT p.doc_id, bloom_hit,
       m.doc_id IS NOT NULL AS actual,
       bloom_hit AND m.doc_id IS NULL AS is_fp
FROM p JOIN hits USING (doc_id) LEFT JOIN member m USING (doc_id)
WHERE p.is_new
"""


_SALT_N = 16  # salt fan-out for the hot-key first phase


def q35_salted_source_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Hot-key (skew-safe) per-source statistics via explicit two-phase
    salted aggregation: phase 1 groups by (source, doc_id % SALT) so a
    pathological source (one host emitting 30% of a crawl) spreads over
    SALT reducers; phase 2 combines the SALT partials per source
    (sum-of-sums, max-of-max, sum-of-counts). Distinct-language count
    uses the matching two-level shape (source,lang) -> source, which is
    the salted form of COUNT(DISTINCT) — partials reduce at every step,
    so no reducer ever holds a hot key's full row set.

    The DuckDB oracle keeps the naive single GROUP BY, making this a
    two-formulation equivalence check (like q32): salted phases must be
    algebraically exact, not approximate."""
    d = _t(spark, sf, "documents")
    p1 = (
        d.selectExpr("source", f"doc_id % {_SALT_N} AS salt", "n_chars")
        .groupBy("source", "salt")
        .agg(
            F.count("*").alias("c"),
            F.sum("n_chars").alias("s"),
            F.max("n_chars").alias("m"),
        )
    )
    stats = p1.groupBy("source").agg(
        F.sum("c").alias("n_docs"),
        F.sum("s").alias("sum_chars"),
        F.max("m").alias("max_chars"),
    )
    # NULL lang excluded to match COUNT(DISTINCT lang) semantics (a
    # groupBy would count NULL as a language); left join + coalesce so a
    # source whose langs are ALL null still reports n_langs = 0
    langs = (
        d.filter(F.col("lang").isNotNull())
        .groupBy("source", "lang").agg(F.lit(1).alias("one"))
        .groupBy("source").agg(F.count("*").alias("n_langs"))
    )
    return stats.join(langs, "source", "left").select(
        "source", "n_docs", "sum_chars", "max_chars",
        F.coalesce("n_langs", F.lit(0).cast("long")).alias("n_langs"),
    )


SQL_Q35 = """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MAX(n_chars) AS max_chars,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
FROM documents GROUP BY source
"""


_QBIN_W = 64  # histogram bin width (chars)


def q36_binned_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed quantile SKETCH: per-source p50/p90/p99 of n_chars from
    a fixed-width histogram — the no-global-sort way to do percentiles
    at 100 TB. One bounded groupBy builds per-(source, bin) counts
    (cardinality sources × bins, independent of row count), a window
    cumsum over that TINY table finds the bins where the cumulative
    count crosses each rank, and the reported value is the bin's upper
    bound (error ≤ bin width, chosen up front). Exact-integer arithmetic
    throughout (cum*2 >= total, not 0.5 floats) keeps both engines
    bit-identical. Contrast q21, which computes the exact median via
    full per-group sort — correct, but its sort is the scale bottleneck
    this sketch removes."""
    d = _t(spark, sf, "documents")
    b = (
        d.selectExpr("source", f"n_chars div {_QBIN_W} AS bin")
        .groupBy("source", "bin").agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("source").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy("source")
    cum = b.withColumn("cum", F.sum("c").over(w)).withColumn(
        "total", F.sum("c").over(wt)
    ).withColumn("ub", (F.col("bin") + 1) * _QBIN_W - 1)
    return cum.groupBy("source").agg(
        F.max("total").alias("n_docs"),
        F.min(F.when(F.col("cum") * 2 >= F.col("total"), F.col("ub"))).alias("p50_ub"),
        F.min(F.when(F.col("cum") * 10 >= F.col("total") * 9, F.col("ub"))).alias("p90_ub"),
        F.min(F.when(F.col("cum") * 100 >= F.col("total") * 99, F.col("ub"))).alias("p99_ub"),
    )


SQL_Q36 = f"""
WITH b AS (
  SELECT source, n_chars // {_QBIN_W} AS bin, COUNT(*) AS c
  FROM documents GROUP BY 1, 2),
cum AS (
  SELECT source, c,
         SUM(c) OVER (PARTITION BY source ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER (PARTITION BY source) AS total,
         (bin + 1) * {_QBIN_W} - 1 AS ub
  FROM b)
SELECT source, CAST(MAX(total) AS BIGINT) AS n_docs,
       MIN(CASE WHEN cum * 2 >= total THEN ub END) AS p50_ub,
       MIN(CASE WHEN cum * 10 >= total * 9 THEN ub END) AS p90_ub,
       MIN(CASE WHEN cum * 100 >= total * 99 THEN ub END) AS p99_ub
FROM cum GROUP BY source
"""


_KM_K = 8        # clusters (= k smallest vec_ids as deterministic seeds)
_KM_SCALE = 1000  # fixed-point quantization for exact cross-engine sums
_EMB_DIM = 64    # embeddings table dim (TESTDATA.md); the DuckDB oracle
#                  iterates generate_series(1, dim) — a dim mismatch
#                  fails the oracle compare loudly, it cannot pass silently


def _km01_assigned(spark: SparkSession, sf: str) -> DataFrame:
    """(vec_id, qv, cid): the km01 fixed-point assignment stage — seed
    centroids (k smallest vec_ids) COLLECTED and baked as literals, so
    assignment is a map-only projection (see km01_kmeans_iteration for
    the full scale rationale). Shared by km01 and dd14."""
    import pandas as pd

    qexpr = (
        f"transform(embedding, x -> CAST(floor(CAST(x AS double) * {_KM_SCALE}"
        " + 0.5) AS bigint))"
    )
    e_raw = _t(spark, sf, "embeddings")
    seeds = (
        # quantize only the k seed rows (limit BEFORE the transform —
        # evaluating qexpr across the corpus just to take 8 rows cost a
        # full interpreted pass)
        e_raw.orderBy("vec_id").limit(_KM_K)
        .selectExpr("vec_id", f"{qexpr} AS qv").collect()
    )  # k rows, k*dim ints — the driver-held state of the k-means loop
    seed_q = [list(row.qv) for row in seeds]

    # Vectorized assignment (guide §4.2): the per-row interpreted
    # aggregate(zip_with(...)) distance expressions (k*dim lambda evals
    # per vector) become one NumPy pass; arithmetic is exact — the
    # quantization floor(x*1000 + 0.5) is the identical IEEE double op
    # sequence, distances are int64, and the strict `<` update reproduces
    # array_position's first-minimum (ties to the LOWEST cid). Map-only:
    # no exchange added, so km01's single-Exchange plan contract holds.
    def assign(it):
        import numpy as np

        c = np.asarray(seed_q, dtype=np.int64)  # (k, dim)
        for pdf in it:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            qv = np.floor(x * float(_KM_SCALE) + 0.5).astype(np.int64)
            best_d = None
            best_c = None
            for k in range(c.shape[0]):
                diff = qv - c[k]
                d = (diff * diff).sum(axis=1)
                if best_d is None:
                    best_d = d
                    best_c = np.zeros(len(d), dtype=np.int64)
                else:
                    upd = d < best_d
                    best_d = np.where(upd, d, best_d)
                    best_c = np.where(upd, np.int64(k), best_c)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "qv": list(qv),
                "cid": best_c,
            })

    return e_raw.select("vec_id", "embedding").mapInPandas(
        assign, "vec_id long, qv array<bigint>, cid long"
    )


def km01_kmeans_iteration(spark: SparkSession, sf: str) -> DataFrame:
    """One Lloyd (k-means) iteration over the embedding table — the
    representative ITERATIVE algorithm: assign each vector to its nearest
    seed centroid (seeds = the k smallest vec_ids, deterministic), then
    emit the per-(cluster, dimension) member count and coordinate sum
    the next iteration's centroids are computed from.

    Scale shape: the k seed centroids (k*dim integers — here 512) are
    COLLECTED to the driver and baked into the assignment expression as
    literals — exactly how a k-means driver loop carries centroids
    between iterations (Spark MLlib broadcasts the same array). That
    makes assignment a map-only projection over the corpus scan — no
    join, no per-row centroid duplication — and the only shuffle in the
    whole plan is the final groupBy(cluster, dim), whose partial
    aggregation shrinks every partition to ≤ k*dim rows first. argmin is
    array_position of the min distance, which breaks ties to the LOWEST
    cluster id (centroid literals are ordered by cid). Runs on
    FIXED-POINT integers (floor(x*1000 + 0.5), the sim06 convention) so
    distances, tie-breaks and sums are exactly reproducible in both
    engines — float sum order would not be. A full k-means is this plan
    in a driver loop (re-collecting k*dim numbers per round); one
    iteration is the oracle-checkable unit."""
    assigned = _km01_assigned(spark, sf).select("qv", "cid")
    return (
        assigned.select("cid", F.posexplode("qv").alias("dim0", "val"))
        .selectExpr(
            "CAST(cid AS bigint) AS cluster_id",
            "CAST(dim0 + 1 AS bigint) AS dim", "val",
        )
        .groupBy("cluster_id", "dim")
        .agg(
            F.count("*").alias("n_members"),
            F.sum("val").alias("sum_q"),
        )
    )


_SQL_KM01_CTES = f"""e AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
           x -> CAST(floor(x * {_KM_SCALE} + 0.5) AS BIGINT)) AS qv
  FROM embeddings),
cent AS (
  -- cid = the seed's 0-based rank, matching Spark's array index
  -- (identical to vec_id only when ids happen to start at 0)
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cq
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT {_KM_K})),
scored AS (
  SELECT vec_id, qv, cid,
         CAST(list_sum(list_transform(generate_series(1, {_EMB_DIM}),
           i -> (qv[i] - cq[i]) * (qv[i] - cq[i]))) AS BIGINT) AS dist
  FROM e, cent),
assigned AS (
  SELECT vec_id, qv, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cid) AS rn
    FROM scored) WHERE rn = 1)"""

SQL_KM01 = f"""
WITH {_SQL_KM01_CTES}
SELECT cid AS cluster_id, CAST(i AS BIGINT) AS dim,
       COUNT(*) AS n_members, CAST(SUM(qv[i]) AS BIGINT) AS sum_q
FROM assigned, generate_series(1, {_EMB_DIM}) AS g(i)
GROUP BY cid, i
"""


# --- sim07: product quantization (PQ encode + ADC search) ---
_PQ_SUB = 8      # subspaces (64 dims -> 8 subvectors of 8 dims)
_PQ_KC = 16      # codebook centroids per subspace (4-bit codes)


def sim07_pq_adc_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN — the missing third leg of the IVF-PQ
    stack next to sim03/sim05 (IVF cells) and sim06 (scalar int8):
    vectors are split into SUB subvectors, each encoded as the id of its
    nearest codebook centroid (here: the first KC vectors' subvectors,
    fixed-point — a deterministic stand-in for a trained codebook), so a
    64-dim float vector becomes SUB 4-bit codes (64x compression). The
    query is NOT encoded: an ADC (asymmetric distance computation) table
    of query-subvector -> centroid distances is precomputed (SUB x KC
    ints) and each corpus vector's approximate distance is SUB table
    lookups + adds.

    Scale shape: codebook and ADC table are driver-held literals (SUB x
    KC x dim/SUB = 1024 ints — the km01 convention); encode and score
    are map-only projections over the corpus scan and the only movement
    is TakeOrdered's k rows per partition. At 100 TB the encoded table
    (SUB bytes/vector) is the STORED artifact — scans read 64x fewer
    bytes, and exact rescoring touches float vectors only for the
    top candidates. Fixed-point integers end-to-end make codes and
    distances engine-exact."""
    d = _t(spark, sf, "embeddings")
    qexpr = (
        f"transform(embedding, x -> CAST(floor(CAST(x AS double) * {_KM_SCALE}"
        " + 0.5) AS bigint))"
    )
    e = d.selectExpr("vec_id", f"{qexpr} AS qv")
    # ONE driver action builds all plan-time state: the k smallest
    # vec_ids are the codebook seeds, seeds[0] (the smallest id — vec 0
    # in the testdata) doubles as the query, and dim comes from its
    # length. Three separate actions here cost three full scans per
    # plan build. Fewer than KC vectors give a smaller codebook (the
    # oracle's `LIMIT KC` seeds); none give an empty result.
    seeds = e.orderBy("vec_id").limit(_PQ_KC).collect()
    if not seeds:
        return e.selectExpr(
            "vec_id", "'' AS code_str", "CAST(0 AS bigint) AS approx_dist"
        ).where("false")
    kc = len(seeds)
    q = list(seeds[0].qv)  # query = smallest vec_id
    dim = len(q)
    assert dim % _PQ_SUB == 0, (dim, _PQ_SUB)
    sd = dim // _PQ_SUB  # dims per subspace
    # codebook[s][c] = centroid c's subvector for subspace s
    book = [
        [list(r.qv[s * sd:(s + 1) * sd]) for r in seeds]
        for s in range(_PQ_SUB)
    ]
    # ADC table: integer distance from the query's subvector s to each
    # codebook centroid (driver-side: SUB x KC small ints)
    adc = [
        [
            sum(
                (q[s * sd + j] - book[s][c][j]) ** 2 for j in range(sd)
            )
            for c in range(kc)
        ]
        for s in range(_PQ_SUB)
    ]

    # encode: per subspace, the 0-based index of the nearest centroid
    # (np.argmin first-min tie-break = lowest code, matching the oracle).
    # This is the one round-5 operator where built-in expressions lose:
    # SUB*KC = 128 interpreted HOF distance aggregates per row measured
    # 34 s at 100k vectors, vs ~2 s for a tensorized Arrow-batched
    # pandas_udf — the documented "drop to Pandas UDF when builtins
    # can't express it efficiently" case. int64 numpy arithmetic is
    # exact, so the oracle equivalence is unaffected.
    from pyspark.sql.functions import pandas_udf

    book_rows = [[book[s][c] for c in range(kc)] for s in range(_PQ_SUB)]

    @pandas_udf("array<long>")
    def _pq_encode(qv: pd.Series) -> pd.Series:
        import numpy as np

        bk = np.asarray(book_rows, dtype=np.int64)  # (SUB, KC, sd)
        out = []
        # chunk: the (n, SUB, KC, sd) diff tensor at full Arrow-batch
        # size would be GBs; 4096-row slices keep it ~40 MB
        vals = qv.values
        for lo in range(0, len(vals), 4096):
            chunk = np.stack(vals[lo:lo + 4096]).astype(np.int64)
            x = chunk.reshape(len(chunk), _PQ_SUB, 1, sd)
            dist = ((x - bk[None, :, :, :]) ** 2).sum(axis=3)
            out.append(dist.argmin(axis=2))  # (n, SUB)
        codes = np.concatenate(out) if out else np.empty((0, _PQ_SUB))
        return pd.Series(list(codes))

    adc_lits = ", ".join(
        "array(" + ", ".join(f"{v}L" for v in adc[s]) + ")"
        for s in range(_PQ_SUB)
    )
    enc = e.select("vec_id", _pq_encode("qv").alias("code"))
    return (
        enc.filter(F.col("vec_id") != int(seeds[0].vec_id))
        .selectExpr(
            "vec_id", "code",
            f"aggregate(zip_with(array({adc_lits}), code,"
            " (t, c) -> element_at(t, CAST(c + 1 AS int))),"
            " CAST(0 AS bigint), (a, x) -> a + x) AS approx_dist",
        )
        .selectExpr(
            "vec_id",
            "array_join(transform(code, x -> CAST(x AS string)), '-')"
            " AS code_str",
            "approx_dist",
        )
        .orderBy(F.col("approx_dist").asc(), F.col("vec_id").asc())
        .limit(ANN_K)
    )


def _sql_sim07() -> str:
    sd = _EMB_DIM // _PQ_SUB
    return f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
           x -> CAST(floor(x * {_KM_SCALE} + 0.5) AS BIGINT)) AS qv
  FROM embeddings),
seeds AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, qv AS cv
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT {_PQ_KC})),
qv0 AS (SELECT qv AS q FROM e ORDER BY vec_id LIMIT 1),
-- per (vector, subspace, centroid) distance over that subspace's dims
sub AS (
  SELECT e.vec_id, s.s, d.c,
         CAST(list_sum(list_transform(generate_series(1, {sd}),
           j -> (e.qv[s.s * {sd} + j] - d.cv[s.s * {sd} + j])
              * (e.qv[s.s * {sd} + j] - d.cv[s.s * {sd} + j])))
           AS BIGINT) AS dist
  FROM e, generate_series(0, {_PQ_SUB - 1}) AS s(s), seeds d),
codes AS (
  SELECT vec_id, s, c AS code FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                 ORDER BY dist, c) AS rn
    FROM sub) WHERE rn = 1),
adc AS (
  SELECT s.s, d.c,
         CAST(list_sum(list_transform(generate_series(1, {sd}),
           j -> (q.q[s.s * {sd} + j] - d.cv[s.s * {sd} + j])
              * (q.q[s.s * {sd} + j] - d.cv[s.s * {sd} + j])))
           AS BIGINT) AS dist
  FROM qv0 q, generate_series(0, {_PQ_SUB - 1}) AS s(s), seeds d)
SELECT c.vec_id,
       string_agg(CAST(c.code AS VARCHAR), '-' ORDER BY c.s) AS code_str,
       CAST(SUM(a.dist) AS BIGINT) AS approx_dist
FROM codes c JOIN adc a ON c.s = a.s AND c.code = a.c
WHERE c.vec_id <> (SELECT min(vec_id) FROM e)
GROUP BY c.vec_id
ORDER BY approx_dist ASC, c.vec_id ASC LIMIT {ANN_K}
"""


_LC_M = 1024  # linear-counting buckets (test-scale; production m ~ max distinct)


def _lc_width() -> int:
    """Hex chars of md5 used for the bucket: enough that the hash range
    covers m (else buckets saturate below m and the estimate collapses
    — the dd09 _bloom_width lesson), at least 8, at most md5's 32;
    bigint arithmetic caps usable width at 15 chars (60 bits)."""
    need = (max(_LC_M - 1, 1).bit_length() + 3) // 4
    w = max(8, need)
    if w > 15:
        raise ValueError(f"_LC_M={_LC_M} needs {w} hex chars > bigint-safe 15")
    return w


def dc01_distinct_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """Linear probabilistic counting sketch for per-source distinct-text
    cardinality — the mergeable one-pass alternative to COUNT(DISTINCT)
    at 100 TB: each text hashes to one of m buckets (md5-derived, the
    dd09 position convention); the per-source state is just the SET of
    used buckets (≤ m bits, mergeable across partitions/snapshots), and
    the estimate is m·ln(m/empty). Output stays EXACT-INTEGER — n_rows,
    n_used buckets, and an exact n_distinct audit column — so the
    cross-engine gate hashes integers; the float estimate is derived
    downstream (docstring formula), keeping libm out of the oracle.

    Scale shape: one groupBy(source, bucket) whose partial aggregation
    caps every partition's output at sources × m rows regardless of
    corpus size, then a bounded per-source count. The exact audit column
    is test-scale only — at production it is dropped (it is the
    COUNT(DISTINCT) the sketch replaces)."""
    d = _docs_par(spark, sf)
    w = _lc_width()
    b = d.selectExpr(
        "source",
        "md5(lower(trim(text))) AS h",
    ).selectExpr(
        "source",
        f"CAST(conv(substr(h, 1, {w}), 16, 10) AS bigint) % {_LC_M} AS bucket",
        "h",
    )
    # ONE aggregation pass: the previous two-level groupBy for n_used
    # plus a second stats aggregate re-ran the md5 projection over the
    # corpus twice and paid a join to glue them back (guide §2.4).
    # count(DISTINCT bucket) == the two-level form, and Spark's Expand
    # runs over the projected (source, bucket, h) rows — the text never
    # flows past the scan — with partial aggregation still capping
    # per-partition output at sources × m (+ distinct h at test scale).
    return b.groupBy("source").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("bucket").alias("n_used"),
        F.countDistinct("h").alias("n_distinct"),
    ).select("source", "n_rows", "n_used", "n_distinct")


def _sql_dc01() -> str:
    w = _lc_width()
    hex2int = (
        f"CAST(list_sum(list_transform(generate_series(1, {w}), j ->"
        " CAST(strpos('0123456789abcdef', substring(h, CAST(j AS INTEGER), 1))"
        f" - 1 AS BIGINT) << (({w} - CAST(j AS INTEGER)) * 4))) AS BIGINT)"
    )
    return f"""
WITH b AS (
  SELECT source, md5(lower(trim(text))) AS h FROM documents),
p AS (SELECT source, {hex2int} % {_LC_M} AS bucket, h FROM b),
used AS (
  SELECT source, COUNT(*) AS n_used
  FROM (SELECT DISTINCT source, bucket FROM p) GROUP BY source)
SELECT p.source, COUNT(*) AS n_rows, MAX(u.n_used) AS n_used,
       CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct
FROM p JOIN used u ON p.source = u.source
GROUP BY p.source
"""


def q37_bigram_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Held-out bigram coverage scoring — the exact-integer core of an
    n-gram LM quality filter: bigram counts are TRAINED on the even-
    doc_id half of the corpus, then each odd (held-out) doc is scored by
    its unseen-bigram fraction (OOV rate, micro-units) and the total
    train-count mass its bigrams hit. Docs full of unseen bigrams are
    the gibberish/perplexity-outlier candidates; the log-space LM that
    R010 applies at filter time consumes exactly these count tables. All
    integer arithmetic, so the cross-engine gate is exact (a log-score
    variant would ride on libm's last-ulp behavior).

    Scale shape: the count table is a partial-aggregated groupBy over
    train bigrams. Unlike a unigram vocab, DISTINCT BIGRAMS GROW
    near-linearly with corpus tokens, so the explicit broadcast here is
    a test/bench-scale choice — at 100 TB an LM count table is pruned
    first (min-count cutoff or top-V, the standard n-gram practice;
    counts below the cutoff score as unseen) and THEN broadcast, or the
    join falls back to a shuffled hash join on bg. Per-doc re-agg
    combines map-side (explode preserves doc locality). Top 50
    worst-covered docs returned with a total order."""
    d = _docs_par(spark, sf)
    toks = _TOKS_SPARK.format(c="text")
    grams = (
        d.selectExpr("doc_id", "doc_id % 2 = 0 AS is_train",
                     f"{toks} AS t")
        .filter("size(t) >= 2")
        .selectExpr(
            "doc_id", "is_train",
            "explode(zip_with(slice(t, 1, size(t) - 1), slice(t, 2,"
            " size(t) - 1), (a, b) -> concat(a, ' ', b))) AS bg",
        )
    )
    counts = (
        grams.filter("is_train").groupBy("bg")
        .agg(F.count("*").alias("c"))
    )
    return (
        grams.filter("NOT is_train")
        .join(F.broadcast(counts), "bg", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.when(F.col("c").isNull(), 1).otherwise(0)).alias("n_unseen"),
            F.sum(F.coalesce("c", F.lit(0))).alias("train_mass"),
        )
        .selectExpr(
            "doc_id", "n_bigrams", "n_unseen", "train_mass",
            "CAST(n_unseen * 1000000 div n_bigrams AS bigint) AS oov_micro",
        )
        .orderBy(F.col("oov_micro").desc(), F.col("doc_id").asc())
        .limit(50)
    )


def _sql_q37() -> str:
    t = _TOKS_DUCK.format(c="text")
    return f"""
WITH tk AS (
  SELECT doc_id, doc_id % 2 = 0 AS is_train, {t} AS t FROM documents),
g AS (
  SELECT doc_id, is_train,
         unnest(list_transform(generate_series(1, len(t) - 1),
                i -> t[i] || ' ' || t[i + 1])) AS bg
  FROM tk WHERE len(t) >= 2),
counts AS (
  SELECT bg, COUNT(*) AS c FROM g WHERE is_train GROUP BY bg)
SELECT doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(CASE WHEN c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen,
       CAST(SUM(COALESCE(c, 0)) AS BIGINT) AS train_mass,
       CAST(SUM(CASE WHEN c IS NULL THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS oov_micro
FROM g LEFT JOIN counts USING (bg)
WHERE NOT is_train
GROUP BY doc_id
ORDER BY oov_micro DESC, doc_id ASC LIMIT 50
"""


# ---------------------------------------------------------------------------
# Round-5: best-fit-decreasing bin packing (the packing a trainer ships)
# ---------------------------------------------------------------------------


def q38_binpack_bfd(spark: SparkSession, sf: str) -> DataFrame:
    """Best-fit-decreasing (BFD) bin packing WITHOUT document splitting —
    the real-packing complement to q32's concat-and-chunk stream: each
    whole document is placed in a cap-token bin; docs sorted by
    (n_tokens DESC, doc_id ASC), each placed into the fullest bin that
    still fits (ties: lowest bin_id), else a new bin. Output per doc:
    (bin_id, bin_off) within its (source, shard); docs longer than the
    cap are routed out with bin_id = -1 (q32's chunking path handles
    them); empty docs are excluded like q32.

    Scale shape: packing is inherently sequential, so it runs as a
    grouped applyInPandas over (source, shard) — the shard bounds each
    Python group at ~_PACK_SHARD docs regardless of corpus size, so the
    only shuffle is ONE hash exchange on the group key and no group ever
    exceeds worker memory; 100 TB = more groups, not bigger ones. The
    O(docs x bins) placement loop is bounded by the same shard constant.
    Unlike q32, bins do NOT span shard boundaries (BFD has no stream to
    keep contiguous), so shards are embarrassingly parallel. The DuckDB
    oracle reconstructs the identical greedy order with a recursive CTE
    (one placement per step, list-of-remaining-capacities as state) — a
    genuinely independent second implementation of the same
    deterministic algorithm."""
    import pandas as pd

    cap = _PACK_CAP
    d = _t(spark, sf, "documents")
    toks = _TOKS_SPARK.format(c="text")
    par = spark.sparkContext.defaultParallelism
    # repartition on the GROUP KEY before the tokenize: the size() pass is
    # then not pinned to the scan's file-split count, and the grouped-map
    # stage reuses the very same exchange (still exactly ONE hash
    # exchange, plan-asserted); oversize docs ride through the same
    # grouped stage (emitted untouched with bin_id = -1) instead of a
    # second scan + tokenize branch unioned on at the end.
    items = d.selectExpr(
        "doc_id", "source", f"doc_id div {_PACK_SHARD} AS shard", "text"
    ).repartition(par, "source", "shard").selectExpr(
        "doc_id", "source", "shard",
        f"CAST(size({toks}) AS bigint) AS n_tokens",
    ).filter("n_tokens > 0")

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        big = pdf[pdf["n_tokens"] > cap].copy()
        big["bin_id"] = pd.Series(-1, index=big.index, dtype="int64")
        big["bin_off"] = pd.Series(-1, index=big.index, dtype="int64")
        pdf = pdf[pdf["n_tokens"] <= cap].sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        rem: list[int] = []
        bin_id: list[int] = []
        bin_off: list[int] = []
        for nt in pdf["n_tokens"]:
            best = -1
            for j, r in enumerate(rem):
                if r >= nt and (best < 0 or r < rem[best]):
                    best = j
            if best < 0:
                bin_id.append(len(rem))
                bin_off.append(0)
                rem.append(cap - nt)
            else:
                bin_id.append(best)
                bin_off.append(cap - rem[best])
                rem[best] -= nt
        pdf["bin_id"] = pd.Series(bin_id, dtype="int64")
        pdf["bin_off"] = pd.Series(bin_off, dtype="int64")
        cols = ["doc_id", "source", "shard", "n_tokens", "bin_id", "bin_off"]
        return pd.concat([pdf[cols], big[cols]], ignore_index=True)

    return items.groupBy("source", "shard").applyInPandas(
        pack,
        "doc_id long, source string, shard long, n_tokens long, "
        "bin_id long, bin_off long",
    )


def _sql_q38() -> str:
    t = _TOKS_DUCK.format(c="text")
    cap = _PACK_CAP
    # the chosen bin: among bins with remaining >= item size, minimum
    # (remaining, index) — struct list_sort orders field-by-field, so
    # element [1] is the best fit with ties to the lowest bin_id
    choice = (
        "list_sort(list_filter(list_transform("
        "generate_series(1, len(r.rem)), j -> {'c': r.rem[j], 'j': j}),"
        " s -> s.c >= it.n_tokens))[1].j"
    )
    return f"""
WITH RECURSIVE
n AS (SELECT doc_id, source, doc_id // {_PACK_SHARD} AS shard,
             CAST(len({t}) AS BIGINT) AS n_tokens FROM documents),
it AS (SELECT doc_id, source, shard, n_tokens,
              ROW_NUMBER() OVER (PARTITION BY source, shard
                                 ORDER BY n_tokens DESC, doc_id ASC) AS rk
       FROM n WHERE n_tokens > 0 AND n_tokens <= {cap}),
grp AS (SELECT source, shard, MAX(rk) AS n_items FROM it GROUP BY 1, 2),
rec AS (
  SELECT source, shard, 0 AS i,
         CAST([] AS BIGINT[]) AS rem,
         CAST([] AS STRUCT(doc_id BIGINT, n_tokens BIGINT,
                           bin_id BIGINT, bin_off BIGINT)[]) AS asg
  FROM grp
  UNION ALL
  SELECT source, shard, i + 1,
         CASE WHEN ch IS NULL THEN list_append(rem, {cap} - n_tokens)
              ELSE list_transform(generate_series(1, len(rem)),
                   k -> CASE WHEN k = ch THEN rem[k] - n_tokens
                        ELSE rem[k] END) END,
         list_append(asg, CASE WHEN ch IS NULL
              THEN {{'doc_id': doc_id, 'n_tokens': n_tokens,
                     'bin_id': CAST(len(rem) AS BIGINT),
                     'bin_off': CAST(0 AS BIGINT)}}
              ELSE {{'doc_id': doc_id, 'n_tokens': n_tokens,
                     'bin_id': CAST(ch - 1 AS BIGINT),
                     'bin_off': CAST({cap} - rem[ch] AS BIGINT)}} END)
  FROM (SELECT r.source, r.shard, r.i, r.rem, r.asg,
               it.doc_id, it.n_tokens, {choice} AS ch
        FROM rec r JOIN it ON it.source = r.source
             AND it.shard = r.shard AND it.rk = r.i + 1)),
fin AS (SELECT r.source, r.shard, r.asg
        FROM rec r JOIN grp g ON r.source = g.source
             AND r.shard = g.shard AND r.i = g.n_items),
flat AS (SELECT source, shard, unnest(asg, recursive := true) FROM fin)
SELECT doc_id, source, shard, n_tokens, bin_id, bin_off FROM flat
UNION ALL
SELECT doc_id, source, shard, n_tokens,
       CAST(-1 AS BIGINT) AS bin_id, CAST(-1 AS BIGINT) AS bin_off
FROM n WHERE n_tokens > {cap}
"""


# ---------------------------------------------------------------------------
# Round-5: cross-document duplicate-span coverage (exact-substring dedup
# signal — what fraction of each doc is covered by 8-gram spans that also
# occur in at least one OTHER document)
# ---------------------------------------------------------------------------

_SPAN_W = 8  # tokens per span gram


def dd10_span_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-SPAN coverage per document: every {W}-token gram whose
    distinct-document frequency is >= 2 marks the interval
    [start, start+W) as duplicated; overlapping intervals are merged
    (gaps-and-islands) and the union length is reported as an exact
    integer micro-fraction of the doc. This is the per-document signal
    exact-substring deduplication ranks on (the ~50-token span dedup of
    the public training-data literature, at token granularity) — docs
    with high coverage are boilerplate/mirror candidates that
    doc-level MinHash misses when the rest of the doc differs.

    Scale shape: gram building is map-side (explode + slice, md5 only
    crosses stages); the df count is a map-side-combined groupBy on the
    gram hash after a per-doc distinct; the shared-gram set flows back
    as a semi join keyed on the gram hash (equi-join — never all-pairs);
    island merging is one window per doc_id over only the SHARED starts
    (a small subset), and the final per-doc agg reuses that exchange.
    Intra-doc repeats don't count (df is distinct-doc), so a doc can't
    mark itself duplicated."""
    # checkpointed: the gram table feeds BOTH the df>=2 shared-gram count
    # and the hits semi-join — without it the tokenize + per-start md5
    # pass runs twice; repartition first or the single small parquet file
    # pins that pass to 1-2 scan tasks (the dd02/dd03 pattern).
    # Built via DuckDB-in-mapInArrow (the oracle's own `starts` CTE —
    # guide §4.2, same pattern as _shingle_mat): warm throughput matches
    # the JVM expression chain, but the COLD pass is ~2x faster (2.8 vs
    # 5.9 s at 10x) because the slice/array_join/md5 codegen warm-up is
    # avoided, and the bench times every query's first pass cold.
    # Output proven row-identical (exceptAll diff 0 at 10x).
    td = _TOKS_DUCK.format(c="text")
    sql = f"""
SELECT doc_id, len(t) AS n_tokens, CAST(i AS BIGINT) AS s,
       md5(array_to_string(t[i : i + {_SPAN_W} - 1], ' ')) AS g
FROM (SELECT doc_id, {td} AS t FROM _b),
     unnest(generate_series(1, len(t) - {_SPAN_W} + 1)) AS u(i)
WHERE len(t) >= {_SPAN_W}"""
    starts = _checkpoint(
        _duckdb_map(
            _docs_par(spark, sf).select("doc_id", "text"), sql,
            "doc_id long, n_tokens long, s long, g string",
        ),
        "dd10_starts", sf,
    )
    shared = (
        starts.select("doc_id", "g").distinct()
        .groupBy("g").agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 2)
        .select("g")
    )
    hits = starts.join(shared, "g", "left_semi")
    w_prev = Window.partitionBy("doc_id").orderBy("s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_run = Window.partitionBy("doc_id").orderBy("s")
    islands = (
        hits.withColumn("prev_end", F.max(F.col("s") + _SPAN_W - 1).over(w_prev))
        .withColumn(
            "new_island",
            F.when(
                F.col("prev_end").isNull() | (F.col("s") > F.col("prev_end")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("island", F.sum("new_island").over(w_run))
        .groupBy("doc_id", "n_tokens", "island")
        .agg(
            (F.max(F.col("s") + _SPAN_W - 1) - F.min("s") + 1).alias("cov"),
            F.count("*").alias("n_starts"),
        )
    )
    return (
        islands.groupBy("doc_id", "n_tokens")
        .agg(
            F.sum("cov").alias("covered_tokens"),
            F.sum("n_starts").alias("n_shared_grams"),
        )
        .selectExpr(
            "doc_id", "CAST(n_tokens AS BIGINT) AS n_tokens",
            "CAST(covered_tokens AS BIGINT) AS covered_tokens",
            "CAST(n_shared_grams AS BIGINT) AS n_shared_grams",
            "covered_tokens * 1000000 div n_tokens AS dup_cov_micro",
        )
        .orderBy(F.col("dup_cov_micro").desc(), F.col("doc_id").asc())
        .limit(50)
    )


def _sql_dd10() -> str:
    t = _TOKS_DUCK.format(c="text")
    w = _SPAN_W
    return f"""
WITH tk AS (SELECT doc_id, {t} AS t FROM documents),
starts AS (
  SELECT doc_id, len(t) AS n_tokens, CAST(i AS BIGINT) AS s,
         md5(array_to_string(t[i : i + {w} - 1], ' ')) AS g
  FROM tk, unnest(generate_series(1, len(t) - {w} + 1)) AS u(i)
  WHERE len(t) >= {w}),
shared AS (
  SELECT g FROM (SELECT DISTINCT doc_id, g FROM starts)
  GROUP BY g HAVING COUNT(*) >= 2),
hits AS (SELECT doc_id, n_tokens, s FROM starts JOIN shared USING (g)),
isl AS (
  SELECT doc_id, n_tokens, s,
         CASE WHEN max_prev_end IS NULL OR s > max_prev_end THEN 1 ELSE 0 END
           AS new_island
  FROM (SELECT doc_id, n_tokens, s,
               MAX(s + {w} - 1) OVER (PARTITION BY doc_id ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS max_prev_end
        FROM hits)),
grp AS (
  SELECT doc_id, n_tokens, s,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl),
cov AS (
  SELECT doc_id, n_tokens, island,
         MAX(s + {w} - 1) - MIN(s) + 1 AS cov, COUNT(*) AS n_starts
  FROM grp GROUP BY doc_id, n_tokens, island)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(SUM(cov) AS BIGINT) AS covered_tokens,
       CAST(SUM(n_starts) AS BIGINT) AS n_shared_grams,
       CAST(SUM(cov) * 1000000 // n_tokens AS BIGINT) AS dup_cov_micro
FROM cov GROUP BY doc_id, n_tokens
ORDER BY dup_cov_micro DESC, doc_id ASC LIMIT 50
"""


# ---------------------------------------------------------------------------
# Round-5: corpus-level keep-first line deduplication (the C4-style
# preprocessing op: each "line" survives only at its first occurrence
# corpus-wide) and a count-min-sketch heavy-hitter estimator
# ---------------------------------------------------------------------------

_LINE_W = 8  # tokens per line-proxy chunk (synth text has no newlines)


def dd11_line_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level keep-first line dedup (the C4 preprocessing rule:
    every three-sentence-ish unit is kept only at its FIRST occurrence
    across the whole corpus, all later copies dropped). Synth text has
    no newlines, so the line proxy is non-overlapping {W}-token chunks;
    the keep policy is global-first by (doc_id, chunk_index). Output is
    the per-document retention ledger — how many lines/tokens survive —
    plus an md5 of the surviving text in order, the byte-level evidence
    a scrub/dedup stage must reproduce.

    Scale shape: chunking is map-side (explode of non-overlapping
    starts — O(n_tokens / W) rows per doc, ~8x fewer than dd10's
    sliding grams); the keep-first decision is ONE row_number window
    hash-partitioned on the chunk hash (no self-join, no all-pairs);
    the per-doc ledger re-agg combines map-side. A viral boilerplate
    line concentrates its copies in one hash partition — bounded by the
    duplicate structure itself, and the dd03-style DF cap applies
    unchanged if a corpus needs it."""
    d = _t(spark, sf, "documents")
    toks = _TOKS_SPARK.format(c="text")
    w = _LINE_W
    chunks = (
        d.selectExpr("doc_id", f"{toks} AS t")
        .filter("size(t) >= 1")
        .selectExpr(
            "doc_id", "size(t) AS n_tokens", "t",
            f"explode(sequence(0, (size(t) - 1) div {w})) AS li",
        )
        .selectExpr(
            "doc_id", "n_tokens", "li",
            f"array_join(slice(t, li * {w} + 1, {w}), ' ') AS chunk",
            f"least({w}, n_tokens - li * {w}) AS ctoks",
        )
        .withColumn("h", F.md5("chunk"))
    )
    wk = Window.partitionBy("h").orderBy("doc_id", "li")
    kept = chunks.withColumn(
        "keep", F.when(F.row_number().over(wk) == 1, F.lit(1)).otherwise(F.lit(0))
    )
    return (
        kept.groupBy("doc_id", "n_tokens")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("keep").alias("n_kept"),
            F.sum(F.col("keep") * F.col("ctoks")).alias("kept_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("keep") == 1,
                                    F.struct(F.col("li"), F.col("chunk")),
                                )
                            )
                        ),
                        lambda x: x["chunk"],
                    ),
                    " ",
                )
            ).alias("kept_md5"),
        )
        .selectExpr(
            "doc_id",
            "CAST(n_tokens AS BIGINT) AS n_tokens",
            "CAST(n_lines AS BIGINT) AS n_lines",
            "CAST(n_kept AS BIGINT) AS n_kept",
            "CAST(kept_tokens AS BIGINT) AS kept_tokens",
            "kept_md5",
        )
    )


def _sql_dd11() -> str:
    t = _TOKS_DUCK.format(c="text")
    w = _LINE_W
    return f"""
WITH tk AS (SELECT doc_id, {t} AS t FROM documents),
ch AS (
  SELECT doc_id, len(t) AS n_tokens, CAST(li AS BIGINT) AS li,
         array_to_string(t[li * {w} + 1 : li * {w} + {w}], ' ') AS chunk,
         least({w}, len(t) - li * {w}) AS ctoks
  FROM tk, unnest(generate_series(0, (len(t) - 1) // {w})) AS u(li)
  WHERE len(t) >= 1),
k AS (
  SELECT doc_id, n_tokens, li, chunk, ctoks,
         CASE WHEN row_number() OVER (PARTITION BY md5(chunk)
           ORDER BY doc_id, li) = 1 THEN 1 ELSE 0 END AS keep
  FROM ch)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(keep) AS BIGINT) AS n_kept,
       CAST(SUM(keep * ctoks) AS BIGINT) AS kept_tokens,
       md5(coalesce(string_agg(CASE WHEN keep = 1 THEN chunk END, ' '
         ORDER BY li), '')) AS kept_md5
FROM k GROUP BY doc_id, n_tokens
"""


_CMS_D = 4    # sketch rows (independent hash slices of one md5)
_CMS_W = 256  # buckets per row; 16^4 % 256 == 0 so the fold is uniform


def _cms_pos_spark(r: int) -> str:
    return (
        f"CAST(conv(substr(h, {r * 4 + 1}, 4), 16, 10) AS BIGINT) % {_CMS_W}"
    )


def _cms_pos_duck(r: int) -> str:
    # DuckDB has no conv(); parse the 4 hex chars positionally
    return (
        "CAST(list_sum(list_transform(generate_series(1, 4), c ->"
        " (strpos('0123456789abcdef',"
        f" substring(h, {r * 4} + CAST(c AS INTEGER), 1)) - 1)"
        " << ((4 - CAST(c AS INTEGER)) * 4))) AS BIGINT)"
        f" % {_CMS_W}"
    )


def hh01_cms_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min-sketch heavy hitters over corpus bigrams: a {D}x{W}
    integer sketch (bucket b of row r sums the counts of every bigram
    whose r-th md5 slice folds to b), point-queried for the top-20
    exact-count bigrams so the overcount the sketch would report is
    visible next to ground truth. The sketch is THE mergeable shape for
    frequency estimation at 100 TB: per-partition sketches are {D}*{W}
    longs regardless of vocabulary, merge is elementwise +, and the
    here-materialized bucket table (<= {D}*{W} rows) broadcasts for
    free to any estimator join. Exact counts ride along only because
    this corpus is small enough to afford ground truth.

    Scale shape: bigram counting is one map-side-combined groupBy; the
    bucket table is a second bounded groupBy over ({D} x count-rows)
    melted positions; the estimate join broadcasts the tiny sketch. All
    integer arithmetic, so the cross-engine gate is exact."""
    d = _docs_par(spark, sf)
    toks = _TOKS_SPARK.format(c="text")
    tc = (
        d.selectExpr(f"{toks} AS t")
        .filter("size(t) >= 2")
        .selectExpr(
            "explode(zip_with(slice(t, 1, size(t) - 1),"
            " slice(t, 2, size(t) - 1), (a, b) -> concat(a, ' ', b))) AS bg"
        )
        .groupBy("bg")
        .agg(F.count("*").alias("cnt"))
        .withColumn("h", F.md5("bg"))
    )
    rp = ", ".join(
        f"struct(CAST({r} AS INT) AS r, {_cms_pos_spark(r)} AS pos)"
        for r in range(_CMS_D)
    )
    bsum = (
        tc.selectExpr("cnt", f"explode(array({rp})) AS rp")
        .selectExpr("rp.r AS r", "rp.pos AS pos", "cnt")
        .groupBy("r", "pos")
        .agg(F.sum("cnt").alias("bsum"))
    )
    top = tc.orderBy(F.desc("cnt"), F.asc("bg")).limit(20)
    return (
        top.selectExpr("bg", "cnt", f"explode(array({rp})) AS rp")
        .selectExpr("bg", "cnt", "rp.r AS r", "rp.pos AS pos")
        .join(F.broadcast(bsum), ["r", "pos"])
        .groupBy("bg", "cnt")
        .agg(F.min("bsum").alias("cms_est"))
        .selectExpr(
            "bg",
            "CAST(cnt AS BIGINT) AS exact_cnt",
            "CAST(cms_est AS BIGINT) AS cms_est",
            "CAST(cms_est - cnt AS BIGINT) AS overcount",
        )
    )


def _sql_hh01() -> str:
    t = _TOKS_DUCK.format(c="text")
    melt = " UNION ALL ".join(
        f"SELECT cnt, {r} AS r, {_cms_pos_duck(r)} AS pos FROM tc"
        for r in range(_CMS_D)
    )
    tmelt = " UNION ALL ".join(
        f"SELECT bg, cnt, {r} AS r, {_cms_pos_duck(r)} AS pos FROM top"
        for r in range(_CMS_D)
    )
    return f"""
WITH tk AS (SELECT {t} AS t FROM documents),
bgs AS (
  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
           i -> t[i] || ' ' || t[i + 1])) AS bg
  FROM tk WHERE len(t) >= 2),
tc AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS cnt, md5(bg) AS h
       FROM bgs GROUP BY bg),
melt AS ({melt}),
bsum AS (SELECT r, pos, CAST(SUM(cnt) AS BIGINT) AS bsum
         FROM melt GROUP BY r, pos),
top AS (SELECT bg, cnt, h FROM tc ORDER BY cnt DESC, bg ASC LIMIT 20),
tmelt AS ({tmelt})
SELECT bg, CAST(cnt AS BIGINT) AS exact_cnt,
       CAST(MIN(bsum) AS BIGINT) AS cms_est,
       CAST(MIN(bsum) - cnt AS BIGINT) AS overcount
FROM tmelt JOIN bsum USING (r, pos)
GROUP BY bg, cnt
"""


def dd12_weighted_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT weighted (multiset) Jaccard over the dd02 LSH candidate
    pairs: J_w = sum_t min(c_a, c_b) / sum_t max(c_a, c_b) on token
    COUNTS, the frequency-profile signal that set Jaccard throws away
    (a doc and its 3x self-concatenation are set-identical but J_w =
    1/3) and that ICWS weighted-minhash sketches approximate. Emitted
    in exact integer micro-units so the cross-engine gate is bitwise.

    Scale shape: sum(max) is derived as tot_a + tot_b - sum(min), so
    only the INNER token join is computed — candidate pairs joined to
    per-doc token counts on (doc_id, token), two keyed equi-joins, and
    the candidate set itself comes from dd02's banding (never
    all-pairs; the shingle/signature checkpoint is shared, so running
    dd02 and dd12 together prices one index build)."""
    cand, _mat = _dd02_candidates(spark, sf)
    # token counts are consumed ONLY at candidate ids (both the inner
    # min-sum and the totals) — semi-prune before the joins (guide §3.2)
    tc = _tok_counts(spark, sf).join(_cand_ids(cand), "doc_id", "left_semi")
    tot = tc.groupBy("doc_id").agg(F.sum("c").alias("tot"))
    im = (
        cand.join(tc.selectExpr("doc_id AS id_a", "tok", "c AS c_a"), "id_a")
        .join(tc.selectExpr("doc_id AS id_b", "tok", "c AS c_b"), ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.least("c_a", "c_b")).alias("im"))
    )
    return (
        im.join(tot.selectExpr("doc_id AS id_a", "tot AS tot_a"), "id_a")
        .join(tot.selectExpr("doc_id AS id_b", "tot AS tot_b"), "id_b")
        .selectExpr(
            "id_a", "id_b",
            "CAST(im AS BIGINT) AS inter_w",
            "CAST(tot_a AS BIGINT) AS tot_a",
            "CAST(tot_b AS BIGINT) AS tot_b",
            "im * 1000000 div (tot_a + tot_b - im) AS wj_micro",
        )
        .filter(F.col("wj_micro") >= 500000)
    )


def _sql_dd12() -> str:
    t = _TOKS_DUCK.format(c="text")
    return f"""
WITH {_sql_dd02_ctes()},
tc AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest({t}) AS tok FROM documents)
  GROUP BY doc_id, tok),
tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS tot FROM tc GROUP BY doc_id),
im AS (
  SELECT id_a, id_b, CAST(SUM(least(a.c, b.c)) AS BIGINT) AS im
  FROM cand
  JOIN tc a ON a.doc_id = cand.id_a
  JOIN tc b ON b.doc_id = cand.id_b AND b.tok = a.tok
  GROUP BY id_a, id_b)
SELECT id_a, id_b, im AS inter_w, ta.tot AS tot_a, tb.tot AS tot_b,
       CAST(im * 1000000 // (ta.tot + tb.tot - im) AS BIGINT) AS wj_micro
FROM im JOIN tot ta ON ta.doc_id = im.id_a JOIN tot tb ON tb.doc_id = im.id_b
WHERE im * 1000000 // (ta.tot + tb.tot - im) >= 500000
"""


_BK_K = 5  # per-source sample size for the bottom-k sampler


def q39_bottomk_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic per-group uniform sample via BOTTOM-K hashing: rank
    docs within each source by md5(doc_id) and keep the k smallest — the
    hash is a fixed uniform permutation of the group, so the k winners
    are a uniform-without-replacement sample that is REPRODUCIBLE across
    runs, engines, and partitionings (no RNG state to seed; re-running
    on the same corpus reselects the same docs, which is what a training
    pipeline needs for auditable subsampling).

    Scale shape: two-phase salted top-k. Phase 1 ranks within
    (source, doc_id % SALT) slices, so no single reducer ever sorts a
    hot source's full row set; phase 2 ranks the <= SALT*k survivors per
    source (tiny). The union of per-salt bottom-ks provably contains the
    per-source bottom-k, so the phases are exact, not approximate. The
    DuckDB oracle keeps the naive single ROW_NUMBER — a two-formulation
    equivalence check like q35."""
    d = _t(spark, sf, "documents")
    ranked = d.selectExpr(
        "source", "doc_id", "md5(CAST(doc_id AS STRING)) AS h",
        f"doc_id % {_SALT_N} AS salt",
    )
    w1 = Window.partitionBy("source", "salt").orderBy("h", "doc_id")
    p1 = (
        ranked.withColumn("rk1", F.row_number().over(w1))
        .filter(F.col("rk1") <= _BK_K)
    )
    w2 = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        p1.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= _BK_K)
        .selectExpr("source", "CAST(rk AS INT) AS rk", "doc_id", "h")
    )


SQL_Q39 = f"""
SELECT source, CAST(rk AS INTEGER) AS rk, doc_id, h FROM (
  SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents)
WHERE rk <= {_BK_K}
"""


def q40_sentence_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Sentence segmentation + per-source sentence statistics (text
    analysis family, alongside q10 token stats / q20 quality score):
    split on terminal-punctuation runs, trim, drop empties, then report
    per source the doc count, sentence count, max sentences in one doc,
    and mean sentence length in exact milli-chars (integer division —
    no float drift between engines). The per-doc stage is map-only
    (split + two single-level array aggregates, whole-stage codegen);
    the per-source reduce pre-combines map-side, so the shuffle carries
    one partial row per (task, source) regardless of corpus size."""
    d = _docs_par(spark, sf)
    sents = "filter(transform(split(text, '[.!?]+'), s -> trim(s)), s -> s != '')"
    per_doc = d.selectExpr(
        "source",
        f"CAST(size({sents}) AS BIGINT) AS ns",
        f"aggregate({sents}, CAST(0 AS BIGINT), (acc, s) -> acc + length(s)) AS sc",
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("ns").alias("n_sents"),
        F.max("ns").alias("max_sents"),
        F.expr(
            "CASE WHEN SUM(ns) > 0 THEN SUM(sc) * 1000 div SUM(ns)"
            " ELSE CAST(0 AS BIGINT) END"
        ).alias("mean_sent_chars_milli"),
    )


SQL_Q40 = """
WITH per_doc AS (
  SELECT source,
         CAST(len(s) AS BIGINT) AS ns,
         CAST(COALESCE(list_sum(list_transform(s, x -> length(x))), 0) AS BIGINT) AS sc
  FROM (SELECT source,
               list_filter(list_transform(regexp_split_to_array(text, '[.!?]+'),
                                          x -> trim(x)), x -> x <> '') AS s
        FROM documents))
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(ns) AS BIGINT) AS n_sents,
       MAX(ns) AS max_sents,
       CASE WHEN SUM(ns) > 0 THEN CAST(SUM(sc) * 1000 // SUM(ns) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS mean_sent_chars_milli
FROM per_doc GROUP BY source
"""


_CONT_T = 500_000  # micro-units: report pairs where either containment >= 0.5


def dd13_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric CONTAINMENT over the dd02 LSH candidate pairs:
    c(a|b) = |tok(a) ∩ tok(b)| / |tok(a)| on DISTINCT token sets — the
    near-superset signal Jaccard dilutes (a doc quoted whole inside a
    10x-longer page has tiny Jaccard but containment ~1.0, the exact
    case C4-style dedup wants to catch). Both directions are emitted in
    exact integer micro-units so the cross-engine gate is bitwise.

    Scale shape mirrors dd12: the candidate set comes from dd02's
    banding (never all-pairs, shared checkpointed signature build), the
    intersection is two keyed equi-joins on (doc_id, token) with
    map-side combine, and per-doc distinct-token counts join back by id."""
    cand, _mat = _dd02_candidates(spark, sf)
    # distinct token sets = the key set of the shared per-doc token-count
    # checkpoint (one tokenize pass serves dd12/dd13/dd15), semi-pruned
    # to candidate ids — the only rows the joins below can match
    dt = (
        _tok_counts(spark, sf).select("doc_id", "tok")
        .join(_cand_ids(cand), "doc_id", "left_semi")
    )
    n = dt.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        cand.join(dt.selectExpr("doc_id AS id_a", "tok"), "id_a")
        .join(dt.selectExpr("doc_id AS id_b", "tok"), ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(n.selectExpr("doc_id AS id_a", "n AS n_a"), "id_a")
        .join(n.selectExpr("doc_id AS id_b", "n AS n_b"), "id_b")
        .selectExpr(
            "id_a", "id_b",
            "CAST(inter AS BIGINT) AS inter",
            "CAST(n_a AS BIGINT) AS n_a",
            "CAST(n_b AS BIGINT) AS n_b",
            "inter * 1000000 div n_a AS cont_a_micro",
            "inter * 1000000 div n_b AS cont_b_micro",
        )
        .filter(
            (F.col("cont_a_micro") >= _CONT_T) | (F.col("cont_b_micro") >= _CONT_T)
        )
    )


def _sql_dd13() -> str:
    t = _TOKS_DUCK.format(c="text")
    return f"""
WITH {_sql_dd02_ctes()},
dt AS (
  SELECT DISTINCT doc_id, unnest({t}) AS tok FROM documents),
n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM dt GROUP BY doc_id),
im AS (
  SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS inter
  FROM cand
  JOIN dt a ON a.doc_id = cand.id_a
  JOIN dt b ON b.doc_id = cand.id_b AND b.tok = a.tok
  GROUP BY id_a, id_b)
SELECT id_a, id_b, inter, na.n AS n_a, nb.n AS n_b,
       CAST(inter * 1000000 // na.n AS BIGINT) AS cont_a_micro,
       CAST(inter * 1000000 // nb.n AS BIGINT) AS cont_b_micro
FROM im JOIN n na ON na.doc_id = im.id_a JOIN n nb ON nb.doc_id = im.id_b
WHERE inter * 1000000 // na.n >= {_CONT_T}
   OR inter * 1000000 // nb.n >= {_CONT_T}
"""


_BPE_TOP = 20  # merge candidates reported per iteration


def q41_bpe_merge_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """One iteration of BPE TRAINING's inner loop: the most-frequent
    adjacent symbol pairs over the corpus, computed the way every real
    BPE trainer does it — over the DISTINCT-WORD table weighted by word
    frequency, never over raw tokens. The corpus collapses to its
    vocabulary first (one groupBy, vocab-sized output regardless of
    corpus size: 100 TB of text is still a few million distinct words),
    then pair extraction is a map-only explode over the vocab and the
    pair counts pre-combine map-side. Top candidates under a total order
    (weight desc, pair asc) so the LIMIT is deterministic."""
    d = _docs_par(spark, sf)
    toks = _TOKS_SPARK.format(c="text")
    wf = (
        d.selectExpr(f"explode({toks}) AS w")
        .groupBy("w").agg(F.count("*").alias("freq"))
    )
    pairs = wf.filter("length(w) >= 2").selectExpr(
        "explode(transform(sequence(1, length(w) - 1),"
        " i -> substring(w, i, 2))) AS pair",
        "freq",
    )
    return (
        pairs.groupBy("pair").agg(F.sum("freq").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(_BPE_TOP)
        .selectExpr("pair", "CAST(n AS BIGINT) AS n")
    )


def _sql_q41() -> str:
    t = _TOKS_DUCK.format(c="text")
    return f"""
WITH wf AS (
  SELECT w, COUNT(*) AS freq
  FROM (SELECT unnest({t}) AS w FROM documents) GROUP BY w),
p AS (
  SELECT unnest(list_transform(generate_series(1, length(w) - 1),
           i -> substring(w, CAST(i AS INTEGER), 2))) AS pair, freq
  FROM wf WHERE length(w) >= 2)
SELECT pair, CAST(SUM(freq) AS BIGINT) AS n FROM p GROUP BY pair
ORDER BY n DESC, pair ASC LIMIT {_BPE_TOP}
"""


_TRAIL_DAYS = 90  # trailing repeat-purchase window


def q42_trailing_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing-window RANGE JOIN, the Spark-first way: each order with
    the count and revenue of the SAME customer's orders in the preceding
    90 days. Instead of the naive self-join (which re-shuffles orders
    twice and materializes every in-window pair), the Spark plan is a
    single window with a RANGE frame over integer day offsets — one
    shuffle on custkey, zero joins, and the frame scan is linear per
    customer instead of quadratic pair formation. Revenue goes through
    DECIMAL(18,4) so the windowed sum is exact and order-independent.

    The DuckDB oracle keeps the naive LEFT self-join + GROUP BY — a
    two-formulation equivalence check (like q35/q39) proving the range
    frame implements exactly the interval predicate."""
    o = _t(spark, sf, "orders").selectExpr(
        "o_orderkey", "o_custkey",
        "CAST(o_totalprice AS DECIMAL(18,4)) AS tp",
        "datediff(CAST(o_orderdate AS DATE), date'1990-01-01') AS d",
    )
    w = (
        Window.partitionBy("o_custkey").orderBy("d")
        .rangeBetween(-_TRAIL_DAYS, -1)
    )
    return o.select(
        "o_orderkey", "o_custkey",
        F.count("d").over(w).alias("n_prev90"),
        F.coalesce(F.sum("tp").over(w), F.lit(0).cast("decimal(18,4)"))
        .cast("double").alias("sum_prev90"),
    )


SQL_Q42 = f"""
WITH o AS (
  SELECT o_orderkey, o_custkey,
         CAST(o_totalprice AS DECIMAL(18,4)) AS tp,
         date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS d
  FROM orders)
SELECT a.o_orderkey, a.o_custkey,
       COUNT(b.o_orderkey) AS n_prev90,
       CAST(COALESCE(SUM(b.tp), 0) AS DOUBLE) AS sum_prev90
FROM o a LEFT JOIN o b
  ON a.o_custkey = b.o_custkey
 AND b.d BETWEEN a.d - {_TRAIL_DAYS} AND a.d - 1
GROUP BY a.o_orderkey, a.o_custkey
"""


def dd14_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style SEMANTIC dedup: cluster the embedding space
    (km01's fixed-point assignment — map-only, centroids baked as
    literals), then look for near-duplicate pairs ONLY within each
    cluster and drop the higher id of every close pair. This is the
    cluster-scoped blocking that makes embedding dedup tractable at
    10^12 docs: the candidate join is an equi-join on cluster id, so
    pair formation is quadratic only within a cluster, never across the
    corpus (Abbas et al., SemDeDup). Contrast dd05, which blocks by LSH
    bucket — the two blockings are complementary recall/cost tradeoffs.

    Verdict rule is deterministic: keep vec_id unless some LOWER id in
    the same cluster has cosine >= t with it (exact dot product on the
    shared checkpointed unit vectors, round-6 like dd05)."""
    asg = _km01_assigned(spark, sf).select("vec_id", "cid")
    uv = _dd05_unit(spark, sf)
    a = asg.selectExpr("vec_id AS id_a", "cid")
    b = asg.selectExpr("vec_id AS id_b", "cid")
    cand = a.join(b, "cid").filter(F.col("id_a") < F.col("id_b"))
    dot = (
        "aggregate(zip_with(u_a, u_b, (x, y) -> x * y),"
        " CAST(0 AS double), (acc, x) -> acc + x)"
    )
    dup_b = (
        cand.join(uv.selectExpr("vec_id AS id_a", "u AS u_a"), "id_a")
        .join(uv.selectExpr("vec_id AS id_b", "u AS u_b"), "id_b")
        .selectExpr("id_b", f"round({dot}, 6) AS cos_sim")
        .filter(F.col("cos_sim") >= COSINE_PAIR_T)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        asg.join(dup_b, "vec_id", "left")
        .selectExpr(
            "vec_id",
            "CAST(cid AS BIGINT) AS cluster_id",
            "NOT coalesce(is_dup, false) AS keep",
        )
    )


def _sql_dd14() -> str:
    return f"""
WITH {_SQL_KM01_CTES},
ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
un AS (SELECT vec_id,
              list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
       FROM ev),
dup AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN un ua ON ua.vec_id = a.vec_id
  JOIN un ub ON ub.vec_id = b.vec_id
  WHERE ROUND(list_dot_product(ua.u, ub.u), 6) >= {COSINE_PAIR_T})
SELECT asg.vec_id, CAST(asg.cid AS BIGINT) AS cluster_id,
       (asg.vec_id NOT IN (SELECT vec_id FROM dup)) AS keep
FROM assigned asg
"""


def q43_global_rank(spark: SparkSession, sf: str) -> DataFrame:
    """GLOBAL total-order ranking without a global sort: the distributed
    two-phase ranking every 100 TB sort-adjacent job uses. Phase 1 bins
    rows by value range and counts per bin (bounded groupBy, map-side
    combined); phase 2 computes bin offsets with a window cumsum over
    the TINY bin table (rows = #bins, not #docs); phase 3 ranks within
    each bin (the only per-row sort — partitioned by bin, so every sort
    is local and bounded) and adds the broadcast offset. A naive
    ROW_NUMBER() OVER (ORDER BY ...) would plan a single-partition
    window — one executor sorts the corpus; this plan never materializes
    a global order, yet emits exact global ranks. The DuckDB oracle
    keeps the naive single-sort formulation — a two-formulation
    equivalence check."""
    d = _t(spark, sf, "documents").select("doc_id", "n_chars")
    b = d.selectExpr("doc_id", "n_chars", f"n_chars div {_QBIN_W} AS bin")
    counts = b.groupBy("bin").agg(F.count("*").alias("c"))
    wo = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "bin", F.coalesce(F.sum("c").over(wo), F.lit(0)).alias("off")
    )
    wb = Window.partitionBy("bin").orderBy("n_chars", "doc_id")
    return (
        b.join(F.broadcast(offsets), "bin")
        .withColumn("rn", F.row_number().over(wb))
        .selectExpr("doc_id", "n_chars", "CAST(off + rn AS BIGINT) AS rnk")
    )


SQL_Q43 = """
SELECT doc_id, n_chars,
       CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS rnk
FROM documents
"""


_MKNN_K = 3  # neighbors per vector before the mutuality filter


def _np_round6(x):
    """Vectorized EXACT mirror of round(x, 6) as both engines compute it
    on doubles. Fast path: floor(x*1e6 + 0.5)/1e6. The multiply's ~1e-10
    absolute error can only flip the result when the scaled fraction sits
    inside a 1e-6 guard band around the HALF_UP decision boundary, so
    those (vanishingly rare) elements fall back to decimal HALF_UP on
    repr(x) — the same shortest-decimal-representation rounding Spark's
    Round(DoubleType) performs via BigDecimal.valueOf. fl(m/1e6) is the
    correctly-rounded double of the exact decimal m*10^-6, matching
    BigDecimal.doubleValue, so the fast path's final division is exact
    in the same sense."""
    import numpy as np

    y = x * 1e6
    r = np.floor(y + 0.5)
    frac = y - np.floor(y)
    out = r / 1e6
    sus = np.abs(frac - 0.5) < 1e-6
    if sus.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal("0.000001")
        xs = np.asarray(x)
        for idx in zip(*np.nonzero(sus)):
            out[idx] = float(
                Decimal(repr(float(xs[idx]))).quantize(q, rounding=ROUND_HALF_UP)
            )
    return out


def _sim08_knn(spark: SparkSession, sf: str) -> DataFrame:
    """The per-cluster exact-kNN stage of sim08, checkpointed (sim08's
    mutuality filter, g01's triangle closure and g02's PageRank all
    consume it, so the heavy stage is priced once per session like the
    dd02 signature table). Candidate generation is cluster-blocked like
    dd14 (km01's map-only assignment), so pair formation is bounded by
    cluster size, never corpus-quadratic — the IVF trade: recall loss
    only across cluster boundaries.

    Round-6 rewrite (guide §4.2): the per-pair interpreted
    aggregate(zip_with(...)) dot product — ~3.2e9 lambda evaluations at
    sf1.0 (20k vectors / 8 clusters / 64 dims), ~500 s — becomes one
    applyInPandas per cluster that computes the gram block in NumPy and
    emits ONLY the top-k rows per vector. Arithmetic is kept bitwise
    identical to the old plan: the dot accumulates column-by-column in
    float64 (acc = fl(acc + fl(x_j*y_j)), the exact left-fold the SQL
    lambda performed), rounding is _np_round6 (exact HALF_UP mirror),
    and ranking selects by k argmax passes (np.argmax returns the FIRST
    maximum = lowest neighbor id on rounded-cos ties), as the old
    row_number() window did. Work is split on (cid, vec_id mod B) so a
    hot cluster spreads over many tasks instead of straggling on one:
    each group scores only its OWN rows, gathering the full cluster's
    columns from the worker-cached unit matrix + assignment checkpoints
    (the per-task state the dd05 rescore already uses)."""
    import pandas as pd

    asg = _checkpoint(
        _km01_assigned(spark, sf).select("vec_id", "cid"),
        "sim08_asg", sf, rebalance=True,
    )
    asg_path = _ckpt_path("sim08_asg", sf)
    _dd05_unit(spark, sf)
    unit_path = _ckpt_path("dd05_unit", sf)
    par = spark.sparkContext.defaultParallelism
    nb = max(1, (par * 2) // _KM_K)  # row-blocks per cluster
    # numbered repartition on the group key: the id rows are a few KB,
    # so AQE's byte-based coalescing would fold the ~64 heavy groups
    # onto 1-2 tasks; the grouped-map stage reuses this exact exchange
    # (the q38 pattern)
    blocks = asg.selectExpr(
        "cid", f"pmod(vec_id, {nb}) AS blk", "vec_id"
    ).repartition(par, "cid", "blk")

    def knn_block(key, pdf):
        import numpy as np

        ids, m = _load_unit_matrix(unit_path)
        cid_arr = _load_assignment(asg_path, ids)
        empty = pd.DataFrame(
            {"id_a": pd.Series(dtype="int64"),
             "id_b": pd.Series(dtype="int64"),
             "cos_sim": pd.Series(dtype="float64")}
        )
        members = np.nonzero(cid_arr == key[0])[0]  # ascending id order
        n = len(members)
        if n < 2:
            return empty
        mem_ids = ids[members]
        um = m[members]
        rows_idx = np.searchsorted(
            ids, np.sort(pdf["vec_id"].to_numpy())
        )
        ur = m[rows_idx]
        # each row's own column position inside the cluster (self mask)
        self_pos = np.searchsorted(mem_ids, ids[rows_idx])
        k = min(_MKNN_K, n - 1)
        nr = len(rows_idx)
        g = np.zeros((nr, n))
        t = np.empty_like(g)
        for j in range(m.shape[1]):
            # column-ordered accumulation == the SQL left-fold
            np.multiply(ur[:, j, None], um[None, :, j], out=t)
            g += t
        r = _np_round6(g)
        rows = np.arange(nr)
        r[rows, self_pos] = -np.inf  # no self
        sel_ids = np.empty((nr, k), dtype=np.int64)
        sel_cos = np.empty((nr, k))
        for kk in range(k):
            top = np.argmax(r, axis=1)
            sel_ids[:, kk] = mem_ids[top]
            sel_cos[:, kk] = r[rows, top]
            r[rows, top] = -np.inf
        return pd.DataFrame({
            "id_a": np.repeat(ids[rows_idx], k),
            "id_b": sel_ids.ravel(),
            "cos_sim": sel_cos.ravel(),
        })

    knn = blocks.groupBy("cid", "blk").applyInPandas(
        knn_block, "id_a long, id_b long, cos_sim double"
    )
    return _checkpoint(knn, "sim08_knn", sf, rebalance=True)


def sim08_mutual_knn(spark: SparkSession, sf: str) -> DataFrame:
    """Mutual-kNN GRAPH construction — the edge set clustering and
    graph-based dedup pipelines consume (an edge survives only if each
    endpoint is in the other's top-k, which prunes hub vectors that
    appear in everyone's neighbor list). The per-cluster exact-kNN stage
    is _sim08_knn (vectorized, checkpointed); the mutuality filter is a
    self-join of the tiny top-k edge list on the reversed key pair.
    Exact round-6 cosine on the shared dd05 unit vectors; ties broken by
    neighbor id, so the graph is deterministic."""
    knn = _sim08_knn(spark, sf)
    rev = knn.selectExpr("id_b AS id_a", "id_a AS id_b")
    return (
        knn.join(rev, ["id_a", "id_b"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "cos_sim")
    )


def _sql_sim08_ctes() -> str:
    """The sim08 pipeline as a reusable CTE chain ending in `mknn`
    (mutual-kNN edges, id_a < id_b). Consumed by sim08/g01/g02."""
    return f"""{_SQL_KM01_CTES},
ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
un AS (SELECT vec_id,
              list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
       FROM ev),
sc2 AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(list_dot_product(ua.u, ub.u), 6) AS cos_sim
  FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.vec_id <> b.vec_id
  JOIN un ua ON ua.vec_id = a.vec_id
  JOIN un ub ON ub.vec_id = b.vec_id),
knn AS (
  SELECT id_a, id_b, cos_sim FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a
                                 ORDER BY cos_sim DESC, id_b ASC) AS rk
    FROM sc2) WHERE rk <= {_MKNN_K}),
mknn AS (
  SELECT k.id_a, k.id_b, k.cos_sim
  FROM knn k JOIN knn r ON r.id_a = k.id_b AND r.id_b = k.id_a
  WHERE k.id_a < k.id_b)"""


def _sql_sim08() -> str:
    return f"WITH {_sql_sim08_ctes()}\nSELECT id_a, id_b, cos_sim FROM mknn"


_SW_DF_MIN_PCT = 30  # report tokens present in >= 30% of documents


def q44_stopword_df(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-driven STOPWORD DISCOVERY via document frequency: tokens
    present in >= 30% of all documents, with exact df and integer df
    percentage — how a pipeline derives the stopword list its quality
    rules (R003 stopword fraction) consume, instead of shipping a
    hand-curated one per language. Distinct-per-doc explode feeds a
    map-side-combined df count (vocabulary-sized, not token-stream-
    sized); the corpus total rides in as a broadcast scalar."""
    d = _docs_par(spark, sf)
    toks = _TOKS_SPARK.format(c="text")
    df_t = (
        d.selectExpr("doc_id", f"explode(array_distinct({toks})) AS tok")
        .groupBy("tok").agg(F.count("*").alias("df"))
    )
    total = d.groupBy().agg(F.count("*").alias("n_docs"))
    return (
        df_t.crossJoin(F.broadcast(total))
        .filter(F.col("df") * 100 >= F.col("n_docs") * _SW_DF_MIN_PCT)
        .selectExpr(
            "tok", "CAST(df AS BIGINT) AS df", "n_docs",
            "df * 1000000 div n_docs AS df_micro",
        )
    )


def _sql_q44() -> str:
    t = _TOKS_DUCK.format(c="text")
    return f"""
WITH dt AS (SELECT DISTINCT doc_id, unnest({t}) AS tok FROM documents),
df_t AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY tok),
tot AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT tok, df, n_docs, df * 1000000 // n_docs AS df_micro
FROM df_t, tot
WHERE df * 100 >= n_docs * {_SW_DF_MIN_PCT}
"""


def _sim08_edges(spark: SparkSession, sf: str) -> DataFrame:
    """The mutual-kNN edge set (id_a < id_b), checkpointed: g01/g02
    both consume it several times (triangle closure reads it three
    ways; PageRank reads it symmetrized + for degrees), so one scratch
    write prices the whole graph family — the dd02-signature pattern."""
    return _checkpoint(
        sim08_mutual_knn(spark, sf).select("id_a", "id_b"),
        "sim08_edges", sf, rebalance=True,
    )


def g01_triangle_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Per-node TRIANGLE COUNTS over the mutual-kNN graph — the local
    clustering signal (a doc whose neighbors also neighbor each other
    sits inside a dense near-dup community, not a hub artifact).
    Spark shape: the canonical two-equi-join closure on ORIENTED edges
    (id_a < id_b), the MapReduce triangle-counting standard: wedges
    (a<b<c) come from joining the edge list to itself on the middle
    node, then one more equi-join checks the closing (a,c) edge — every
    join is a keyed equi-join on the (small) edge list, nothing
    quadratic in nodes. Orientation means each triangle is produced
    exactly once, then credited to all three corners."""
    e = _sim08_edges(spark, sf)
    ab = e.selectExpr("id_a AS a", "id_b AS b")
    bc = e.selectExpr("id_a AS b", "id_b AS c")
    ac = e.selectExpr("id_a AS a", "id_b AS c")
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    return (
        tri.selectExpr("explode(array(a, b, c)) AS vec_id")
        .groupBy("vec_id")
        .agg(F.count("*").alias("n_tri"))
    )


def _sql_g01() -> str:
    return f"""
WITH {_sql_sim08_ctes()},
tri AS (
  SELECT ab.id_a AS a, ab.id_b AS b, bc.id_b AS c
  FROM mknn ab
  JOIN mknn bc ON bc.id_a = ab.id_b
  JOIN mknn ac ON ac.id_a = ab.id_a AND ac.id_b = bc.id_b)
SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_tri
FROM (SELECT unnest([a, b, c]) AS vec_id FROM tri)
GROUP BY vec_id
"""


def g02_pagerank_iteration(spark: SparkSession, sf: str) -> DataFrame:
    """One PAGERANK power iteration over the mutual-kNN graph from a
    uniform start — the representative iterative graph algorithm, same
    one-oracle-checkable-round framing as km01 (a full PageRank is this
    plan in a driver loop over a checkpointed rank table). Exact
    FIXED-POINT arithmetic: rank mass is integer micro-units, each
    node's contribution is 10^6 div degree, and the damped update is
    150000 + 850000·(inbound sum) div 10^6 — sums of integers are
    order-independent, so both engines agree bitwise (float PageRank
    would not). Spark shape: symmetrize the edge list (unioned
    projections, no shuffle), one groupBy for degrees, one equi-join +
    groupBy for inbound mass, two left joins back to the node table —
    every shuffle is on node id, partial-aggregated map-side."""
    e = _sim08_edges(spark, sf)
    sym = e.selectExpr("id_a AS src", "id_b AS dst").union(
        e.selectExpr("id_b AS src", "id_a AS dst")
    )
    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
    contrib = deg.selectExpr("src", "1000000 div deg AS c")
    inb = sym.join(contrib, "src").groupBy("dst").agg(F.sum("c").alias("s"))
    nodes = _t(spark, sf, "embeddings").select("vec_id")
    return (
        nodes.join(deg.selectExpr("src AS vec_id", "deg"), "vec_id", "left")
        .join(inb.selectExpr("dst AS vec_id", "s"), "vec_id", "left")
        .selectExpr(
            "vec_id",
            "CAST(coalesce(deg, 0) AS BIGINT) AS deg",
            "CAST(150000 + (850000 * coalesce(s, 0)) div 1000000"
            " AS BIGINT) AS pr_micro",
        )
    )


def _sql_g02() -> str:
    return f"""
WITH {_sql_sim08_ctes()},
sym AS (SELECT id_a AS src, id_b AS dst FROM mknn
        UNION ALL SELECT id_b AS src, id_a AS dst FROM mknn),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY src),
contrib AS (SELECT src, 1000000 // deg AS c FROM deg),
inb AS (SELECT dst, CAST(SUM(c) AS BIGINT) AS s
        FROM sym JOIN contrib USING (src) GROUP BY dst)
SELECT e.vec_id,
       CAST(COALESCE(deg.deg, 0) AS BIGINT) AS deg,
       CAST(150000 + (850000 * COALESCE(inb.s, 0)) // 1000000
            AS BIGINT) AS pr_micro
FROM embeddings e
LEFT JOIN deg ON deg.src = e.vec_id
LEFT JOIN inb ON inb.dst = e.vec_id
"""


def dd15_tfidf_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """TF-IDF-WEIGHTED similarity components over the dd02 LSH candidate
    pairs — the sparse-vector refinement of dd12's raw-count weighting:
    rare shared terms dominate, boilerplate terms vanish. Weights are
    exact integers (w = tf · idf_milli, idf_milli = N·1000 div (df+1),
    the q23 convention — float ln differs in the last ulp across libm
    builds; at 10^12 docs the milli scale is re-based per corpus so w²
    stays in 64 bits). Emits the raw sparse-dot components (dot, |a|²,
    |b|²) so the caller derives cosine; keeping the division out keeps
    the oracle bitwise. Scale shape mirrors dd12: candidates from the
    shared banding checkpoint, weights joined per (doc, term) — two
    keyed equi-joins with map-side combine, never all-pairs."""
    cand, _mat = _dd02_candidates(spark, sf)
    d = _t(spark, sf, "documents")
    tf = _tok_counts(spark, sf).selectExpr(
        "doc_id", "tok AS term", "c AS tf"
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = d.select(F.count("*").alias("n_docs"))
    # document frequency must stay GLOBAL (computed over the full tf
    # above), but the weighted rows are only consumed at candidate ids
    # (the dot join and the norms that re-join onto pairs) — semi-prune
    # tf before the df join so the weighting join and the norm
    # aggregation run over pair members only (guide §3.2)
    wt = (
        tf.join(_cand_ids(cand), "doc_id", "left_semi")
        .join(df_, "term")
        .crossJoin(F.broadcast(n))
        .selectExpr("doc_id", "term", "tf * ((n_docs * 1000) div (df + 1)) AS w")
    )
    norms = wt.groupBy("doc_id").agg(F.sum(F.expr("w * w")).alias("n2"))
    dot = (
        cand.join(wt.selectExpr("doc_id AS id_a", "term", "w AS w_a"), "id_a")
        .join(wt.selectExpr("doc_id AS id_b", "term", "w AS w_b"), ["id_b", "term"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.expr("w_a * w_b")).alias("dot_w"))
    )
    return (
        dot.join(norms.selectExpr("doc_id AS id_a", "n2 AS na2"), "id_a")
        .join(norms.selectExpr("doc_id AS id_b", "n2 AS nb2"), "id_b")
        .selectExpr(
            "id_a", "id_b",
            "CAST(dot_w AS BIGINT) AS dot_w",
            "CAST(na2 AS BIGINT) AS na2",
            "CAST(nb2 AS BIGINT) AS nb2",
        )
        .filter(F.col("dot_w") > 0)
    )


def _sql_dd15() -> str:
    t = _TOKS_DUCK.format(c="text")
    return f"""
WITH {_sql_dd02_ctes()},
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({t}) AS term FROM documents)
  GROUP BY doc_id, term),
df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
wt AS (
  SELECT doc_id, term, CAST(tf * ((n_docs * 1000) // (df + 1)) AS BIGINT) AS w
  FROM tf JOIN df USING (term), n),
norms AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2 FROM wt GROUP BY doc_id),
dt AS (
  SELECT id_a, id_b, CAST(SUM(a.w * b.w) AS BIGINT) AS dot_w
  FROM cand
  JOIN wt a ON a.doc_id = cand.id_a
  JOIN wt b ON b.doc_id = cand.id_b AND b.term = a.term
  GROUP BY id_a, id_b)
SELECT id_a, id_b, dot_w, na.n2 AS na2, nb.n2 AS nb2
FROM dt JOIN norms na ON na.doc_id = dt.id_a JOIN norms nb ON nb.doc_id = dt.id_b
WHERE dot_w > 0
"""


_SJ_SALT = 8       # salt fan-out for the skewed probe side
_SJ_SAMPLE = 97    # emit every 97th doc (deterministic output sample)


def q45_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit TWO-SIDED SALTED JOIN — the skew-join pattern for when
    the dimension is too large to broadcast and one join key is hot (a
    single crawl host owning 30% of rows): the fact side appends salt =
    doc_id % S, the dim side is replicated S ways with an exploded salt
    sequence, and the join key becomes (key, salt) — the hot key's rows
    spread over S reducers instead of one straggler. The join is
    hint('merge')-pinned to sort-merge so the demonstration is real
    (Catalyst would otherwise broadcast this test-scale dim and the
    salt would be decorative). Algebraically exact — every fact row
    still meets exactly one dim replica — which the naive-join DuckDB
    oracle proves (two-formulation, like q35/q39/q42/q43). AQE's
    skewedJoin does this adaptively for sort-merge joins; the explicit
    form also covers aggregation-free pipelines AQE can't rewrite."""
    d = _t(spark, sf, "documents")
    dim = (
        d.groupBy("source").agg(F.sum("n_chars").alias("tot"))
        .withColumn(
            "src_rank",
            F.row_number().over(
                Window.orderBy(F.desc("tot"), F.asc("source"))
            ).cast("long"),
        )
        .select("source", "src_rank")
    )
    dim_salted = dim.selectExpr(
        "source", "src_rank",
        f"explode(sequence(0, {_SJ_SALT - 1})) AS salt",
    )
    fact = d.selectExpr(
        "doc_id", "source", f"CAST(doc_id % {_SJ_SALT} AS INT) AS salt"
    )
    return (
        fact.join(dim_salted.hint("merge"), ["source", "salt"])
        .filter(F.col("doc_id") % _SJ_SAMPLE == 0)
        .select("doc_id", "source", "src_rank")
    )


SQL_Q45 = f"""
WITH dim AS (
  SELECT source,
         CAST(ROW_NUMBER() OVER (ORDER BY SUM(n_chars) DESC, source ASC)
              AS BIGINT) AS src_rank
  FROM documents GROUP BY source)
SELECT doc_id, d.source, src_rank
FROM documents d JOIN dim USING (source)
WHERE doc_id % {_SJ_SAMPLE} = 0
"""


def q46_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 analog (shipping priority): three-table star join with
    selective filters on every input and a top-10 by aggregated
    revenue. The plan Catalyst should pick — and does — is: both date
    filters pushed into the parquet scans, the filtered customer dim
    BROADCAST (explicitly hinted, it is dim-sized by construction), the
    orders⋈lineitem join keyed on orderkey, and TakeOrderedAndProject
    for the LIMIT (never a global sort). Revenue follows the q01
    DECIMAL(18,4) convention so partial aggregation is exact."""
    c = (
        _t(spark, sf, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .selectExpr("c_custkey AS o_custkey")
    )
    o = _t(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), "o_custkey")
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .selectExpr(
            "l_orderkey",
            "date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss') AS odate",
            "o_orderpriority", "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


SQL_Q46 = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS odate,
       o_orderpriority,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
"""


_Q47_QTY = 200  # large-order threshold (~p93 of per-order quantity sums)


def q47_large_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 analog (large-volume customers): AGGREGATE-THEN-JOIN —
    the heavy lineitem table collapses to per-order quantity sums
    FIRST (partial aggregation shrinks the shuffle to one row per
    order), the HAVING filter keeps the few large orders, and only
    that small survivor set joins back to orders and the broadcast
    customer dim. Joining first and aggregating after would shuffle
    the full lineitem⋈orders product — the classic semi-join-pushdown
    lesson. DECIMAL quantity sums per the q01 convention."""
    li = _t(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,4)"))
            .cast("double").alias("sum_qty")
        )
        .filter(F.col("sum_qty") > _Q47_QTY)
    )
    o = _t(spark, sf, "orders").selectExpr(
        "o_orderkey AS l_orderkey", "o_custkey", "o_orderdate"
    )
    c = _t(spark, sf, "customer").selectExpr(
        "c_custkey AS o_custkey", "c_name"
    )
    return (
        big.join(o, "l_orderkey")
        .join(F.broadcast(c), "o_custkey")
        .selectExpr(
            "l_orderkey AS o_orderkey", "c_name",
            "date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss') AS odate",
            "sum_qty",
        )
    )


SQL_Q47 = f"""
WITH big AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > {_Q47_QTY})
SELECT o_orderkey, c_name,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS odate, sum_qty
FROM big
JOIN orders ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q48_cube_stats(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE grouping sets over (lang, source) — all four aggregation
    granularities (both, per-lang, per-source, grand total) in ONE
    partial-aggregated pass instead of four scans, with grouping_id
    disambiguating NULL-as-rollup from NULL-as-data. Complements q14's
    ROLLUP (hierarchical prefixes) with the full lattice."""
    f = _doc_feats(spark, sf)
    return f.cube("lang", "source").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
    )


SQL_Q48 = f"""
WITH f AS ({_DOC_FEATS_SQL})
SELECT lang, source,
       CAST(GROUPING(lang) * 2 + GROUPING(source) AS BIGINT) AS gid,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
FROM f GROUP BY CUBE (lang, source)
"""


_HLL_M = 64       # registers (production: 2^14; 64 keeps the oracle table readable)
_HLL_BITS = 44    # hash bits consumed per value (11 hex chars)


def dc02_hll_registers(spark: SparkSession, sf: str) -> DataFrame:
    """True HYPERLOGLOG register table for per-source distinct-text
    cardinality — the production sketch dc01's linear counting
    approximates below m: register = 8 md5 bits mod m, value = the next
    44 bits, rho = leading-zero count + 1, state = max(rho) per
    (source, register). The state is ≤ sources × m rows, mergeable by
    elementwise MAX across partitions, snapshots, and engines — and
    because rho is an INTEGER (derived from bit length, never float
    log2), the cross-engine gate is exact; the harmonic-mean estimate
    α·m²/Σ2^-rho (with the standard small-range linear-counting
    correction when empty registers remain — accuracy property-tested
    in test_r5b_ops.py) is derived downstream of the gate."""
    d = _t(spark, sf, "documents")
    b = d.selectExpr("source", "md5(lower(trim(text))) AS h").selectExpr(
        "source",
        f"CAST(conv(substr(h, 1, 2), 16, 10) AS bigint) % {_HLL_M} AS reg",
        "CAST(conv(substr(h, 3, 11), 16, 10) AS bigint) AS v",
    )
    rho = (
        f"CASE WHEN v = 0 THEN {_HLL_BITS + 1}"
        f" ELSE {_HLL_BITS} - length(bin(v)) + 1 END"
    )
    return (
        b.selectExpr("source", "reg", f"CAST({rho} AS INT) AS rho")
        .groupBy("source", "reg")
        .agg(F.max("rho").alias("max_rho"))
    )


def _sql_dc02() -> str:
    def hex2int(expr: str, n: int) -> str:
        return (
            f"CAST(list_sum(list_transform(generate_series(1, {n}), j ->"
            f" CAST(strpos('0123456789abcdef', substring({expr}, CAST(j AS INTEGER), 1))"
            f" - 1 AS BIGINT) << (({n} - CAST(j AS INTEGER)) * 4))) AS BIGINT)"
        )

    return f"""
WITH b AS (SELECT source, md5(lower(trim(text))) AS h FROM documents),
p AS (
  SELECT source,
         {hex2int("substring(h, 1, 2)", 2)} % {_HLL_M} AS reg,
         {hex2int("substring(h, 3, 11)", 11)} AS v
  FROM b)
SELECT source, reg,
       CAST(MAX(CASE WHEN v = 0 THEN {_HLL_BITS + 1}
                ELSE {_HLL_BITS} - length(printf('%b', v)) + 1 END)
            AS INTEGER) AS max_rho
FROM p GROUP BY source, reg
"""


_FUNNEL_GAP_S = 1800  # session gap, matching q05


def q49_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """FUNNEL analysis over sessionized events: within each q05-style
    session, did the user progress view → click → purchase in order of
    FIRST occurrences (strict-order-of-firsts, the standard funnel
    semantics)? One row out: session count and per-step survivor
    counts. Shuffle story: the lag/cumsum sessionization is one window
    over (user, time); the step logic is conditional MIN aggregation
    per session (partial-aggregated); the final count is a 1-row
    reduce. No joins at all — funnels over 10^12 events are windows +
    aggregates, never self-joins per step."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        e.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_s",
            (
                F.col("prev_ts").isNull()
                | (
                    F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")
                    > _FUNNEL_GAP_S
                )
            ).cast("long"),
        )
        .withColumn(
            "s_id",
            F.sum("new_s").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    per = sess.groupBy("user_id", "s_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t1"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t2"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t3"),
    )
    return per.agg(
        F.count("*").alias("n_sessions"),
        F.sum(F.col("t1").isNotNull().cast("long")).alias("n_view"),
        F.sum(
            (F.col("t1").isNotNull() & (F.col("t2") > F.col("t1")))
            .cast("long")
        ).alias("n_view_click"),
        F.sum(
            (
                F.col("t1").isNotNull()
                & (F.col("t2") > F.col("t1"))
                & (F.col("t3") > F.col("t2"))
            ).cast("long")
        ).alias("n_view_click_purchase"),
    )


SQL_Q49 = f"""
WITH s AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN prev_ts IS NULL
                OR epoch(ts) - epoch(prev_ts) > {_FUNNEL_GAP_S}
              THEN 1 ELSE 0 END AS new_s
  FROM (SELECT user_id, event_id, ts, event_type,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events)),
sid AS (
  SELECT user_id, event_type, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS s_id
  FROM s),
per AS (
  SELECT user_id, s_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t2,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t3
  FROM sid GROUP BY user_id, s_id)
SELECT COUNT(*) AS n_sessions,
       CAST(SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(SUM(CASE WHEN t1 IS NOT NULL AND t2 > t1 THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
       CAST(SUM(CASE WHEN t1 IS NOT NULL AND t2 > t1 AND t3 > t2
                THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click_purchase
FROM per
"""


def q50_retention(spark: SparkSession, sf: str) -> DataFrame:
    """RETENTION COHORTS: users grouped by first-activity date, counted
    on each later active day as a day-offset — the table every
    engagement dashboard renders. Two bounded aggregations: first-seen
    per user (partial-aggregated MIN), then distinct (user, day) rows
    joined back to the tiny per-user cohort and reduced to
    (cohort, offset) counts. The join is keyed on user_id and the
    distinct activity table is already user-partitioned, so the whole
    query is two shuffles on the same key — co-partitioning AQE reuses."""
    e = _t(spark, sf, "events").selectExpr(
        "user_id", "CAST(ts AS DATE) AS day"
    )
    cohort = e.groupBy("user_id").agg(F.min("day").alias("c_day"))
    act = e.distinct()
    return (
        act.join(cohort, "user_id")
        .selectExpr(
            "date_format(c_day, 'yyyy-MM-dd') AS cohort",
            "datediff(day, c_day) AS d",
        )
        .groupBy("cohort", "d")
        .agg(F.count("*").alias("n_users"))
    )


SQL_Q50 = """
WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
cohort AS (SELECT user_id, MIN(day) AS c_day FROM e GROUP BY user_id),
act AS (SELECT DISTINCT user_id, day FROM e)
SELECT strftime(c_day, '%Y-%m-%d') AS cohort,
       CAST(date_diff('day', c_day, day) AS INTEGER) AS d,
       COUNT(*) AS n_users
FROM act JOIN cohort USING (user_id)
GROUP BY c_day, d
"""


def q51_bpe_apply_merge(spark: SparkSession, sf: str) -> DataFrame:
    """BPE training iteration TWO: apply the winning merge from the q41
    candidate table to the vocabulary IN SYMBOL SPACE, then recount
    adjacent-pair frequencies over the merged symbol sequences. This is
    the part q41 alone can't exercise — after one merge, symbols are no
    longer single characters, so pairs must be counted over explicit
    symbol arrays (space-joined here), not character bigrams.

    Spark-first shape: the whole iteration stays vocab-sized. The corpus
    collapses to (word, freq) once (one groupBy), the argmax merge is a
    1-row broadcast (crossJoin of a LIMIT 1 — never a driver collect),
    the merge application is a map-only string rewrite whose
    left-to-right non-overlapping `replace` semantics are exactly BPE's
    greedy single-pass merge, and the recount is one more map-side
    combinable groupBy. At 100 TB of text the vocab is a few million
    rows, so every stage after the first groupBy is centimeters wide;
    iterating K merges is K broadcast-joined map passes, no shuffle
    growth. Reference analog: the reference tokenizes per-document in
    Python (somef utils); this is the trainer-side primitive a data
    pipeline needs instead."""
    d = _docs_par(spark, sf)
    toks = _TOKS_SPARK.format(c="text")
    wf = (
        d.selectExpr(f"explode({toks}) AS w")
        .groupBy("w").agg(F.count("*").alias("freq"))
        .filter("length(w) >= 2")
    )
    top1 = (
        wf.selectExpr(
            "explode(transform(sequence(1, length(w) - 1),"
            " i -> substring(w, i, 2))) AS pair",
            "freq",
        )
        .groupBy("pair").agg(F.sum("freq").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair")).limit(1)
        .selectExpr(
            "substring(pair, 1, 1) AS a",
            "substring(pair, 2, 1) AS b",
            "pair AS merge",
        )
    )
    merged = (
        wf.crossJoin(F.broadcast(top1))
        .selectExpr(
            "merge",
            # one char -> one symbol, space-joined; then the greedy
            # non-overlapping left-to-right merge pass IS `replace`
            "replace(array_join(transform(sequence(1, length(w)),"
            "   i -> substring(w, i, 1)), ' '),"
            " concat(a, ' ', b), merge) AS sym2",
            "freq",
        )
        .filter("size(split(sym2, ' ')) >= 2")
        .selectExpr(
            "merge",
            "explode(transform(sequence(1, size(split(sym2, ' ')) - 1),"
            " i -> concat(element_at(split(sym2, ' '), i), ' ',"
            "             element_at(split(sym2, ' '), i + 1)))) AS pair",
            "freq",
        )
    )
    return (
        merged.groupBy("merge", "pair").agg(F.sum("freq").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(_BPE_TOP)
        .selectExpr("merge", "pair", "CAST(n AS BIGINT) AS n")
    )


def _sql_q51() -> str:
    t = _TOKS_DUCK.format(c="text")
    return f"""
WITH wf AS (
  SELECT w, COUNT(*) AS freq
  FROM (SELECT unnest({t}) AS w FROM documents) GROUP BY w
  HAVING length(w) >= 2),
p1 AS (
  SELECT unnest(list_transform(generate_series(1, length(w) - 1),
           i -> substring(w, CAST(i AS INTEGER), 2))) AS pair, freq
  FROM wf),
top1 AS (
  SELECT substring(pair, 1, 1) AS a, substring(pair, 2, 1) AS b,
         pair AS merge
  FROM (SELECT pair, SUM(freq) AS n FROM p1 GROUP BY pair
        ORDER BY n DESC, pair ASC LIMIT 1)),
ap AS (
  SELECT merge,
         string_split(replace(
           array_to_string(list_transform(generate_series(1, length(w)),
             i -> substring(w, CAST(i AS INTEGER), 1)), ' '),
           a || ' ' || b, merge), ' ') AS syms,
         freq
  FROM wf CROSS JOIN top1),
p2 AS (
  SELECT merge,
         unnest(list_transform(generate_series(1, len(syms) - 1),
           i -> syms[i] || ' ' || syms[i + 1])) AS pair,
         freq
  FROM ap WHERE len(syms) >= 2)
SELECT merge, pair, CAST(SUM(freq) AS BIGINT) AS n
FROM p2 GROUP BY merge, pair
ORDER BY n DESC, pair ASC LIMIT {_BPE_TOP}
"""


def q52_mincost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 analog (min-cost supplier): for every STANDARD-type part,
    the EUROPE supplier offering the lowest observed price, tie-broken
    the Q2 way (account balance DESC, then suppkey).

    Q2's textbook form is a correlated MIN subquery; the Spark-first
    shape is ARGMIN VIA STRUCT MIN — one aggregate whose value is
    min(struct(cost, -acctbal, suppkey, payload...)), which is
    partial-aggregation friendly (map-side combine shrinks every
    partition to one candidate per part before the shuffle), needs NO
    rank window (a window would sort every group) and NO re-join of the
    min back onto the offers. Dims (supplier⋈nation⋈region, part) are
    broadcast. The DuckDB oracle keeps the naive ROW_NUMBER form — a
    two-formulation equivalence proof like q35/q42."""
    li = _t(spark, sf, "lineitem")
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice").cast("decimal(18,4)")).alias("cost")
    )
    s = (
        _t(spark, sf, "supplier")
        .join(F.broadcast(_t(spark, sf, "nation")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(_t(spark, sf, "region")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "EUROPE")
        .selectExpr("s_suppkey AS l_suppkey", "s_name", "s_acctbal", "n_name")
    )
    p = (
        _t(spark, sf, "part")
        .filter(F.col("p_type") == "STANDARD")
        .selectExpr("p_partkey AS l_partkey", "p_type")
    )
    best = (
        offers.join(F.broadcast(s), "l_suppkey")
        .groupBy("l_partkey")
        .agg(F.min(F.struct(
            F.col("cost"),
            (-F.col("s_acctbal")).alias("nb"),
            F.col("l_suppkey").alias("s_suppkey"),
            F.col("s_name"), F.col("n_name"),
        )).alias("m"))
    )
    return (
        best.join(F.broadcast(p), "l_partkey")
        .selectExpr(
            "l_partkey AS p_partkey", "p_type",
            "CAST(m.cost * 100 AS BIGINT) AS cost_cents",
            "m.s_suppkey AS s_suppkey", "m.s_name AS s_name",
            "m.n_name AS n_name",
        )
        .orderBy(F.asc("cost_cents"), F.asc("p_partkey"))
        .limit(100)
    )


SQL_Q52 = """
WITH offers AS (
  SELECT l_partkey, l_suppkey,
         MIN(CAST(l_extendedprice AS DECIMAL(18,4))) AS cost
  FROM lineitem GROUP BY l_partkey, l_suppkey),
s AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'),
ranked AS (
  SELECT o.l_partkey, o.cost, s.s_suppkey, s.s_name, s.n_name,
         ROW_NUMBER() OVER (PARTITION BY o.l_partkey
           ORDER BY o.cost ASC, s.s_acctbal DESC, s.s_suppkey ASC) AS rk
  FROM offers o JOIN s ON o.l_suppkey = s.s_suppkey)
SELECT r.l_partkey AS p_partkey, p.p_type,
       CAST(r.cost * 100 AS BIGINT) AS cost_cents,
       r.s_suppkey, r.s_name, r.n_name
FROM ranked r JOIN part p ON r.l_partkey = p.p_partkey
WHERE r.rk = 1 AND p.p_type = 'STANDARD'
ORDER BY cost_cents ASC, p_partkey ASC LIMIT 100
"""


_Q53_MIN_PARTS = 2  # parts on which a supplier must beat the average


def q53_excess_shippers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 analog (excess-inventory suppliers): suppliers who
    shipped STRICTLY ABOVE the per-part average quantity on at least
    _Q53_MIN_PARTS distinct PROMO parts in 1996, with their nation.

    Q20 is the classic nested-subquery chain (part → lineitem agg →
    partsupp → supplier semi-join); re-expressed Spark-first: lineitem
    collapses ONCE to (part, supp, qty) partials, the per-part total and
    supplier count derive from a SECOND aggregation of those partials
    (never a re-scan of lineitem), the above-average test is the
    integer cross-multiply qty * n_supp > sum_qty (no float division,
    exact at any scale), and the survivor set reduces to per-supplier
    counts that SEMI-join the broadcast supplier⋈nation dim. Both scans
    of the partials reuse the same shuffle key (l_partkey) so AQE reuses
    the exchange. Quantities route through DECIMAL→BIGINT (they are
    integral in the data) so every comparison is exact."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    p = (
        _t(spark, sf, "part")
        .filter(F.col("p_type") == "PROMO")
        .selectExpr("p_partkey AS l_partkey")
    )
    per = (
        li.join(F.broadcast(p), "l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)"))
             .cast("bigint").alias("qty"))
    )
    totals = per.groupBy("l_partkey").agg(
        F.sum("qty").alias("sum_qty"),
        F.count("*").alias("n_supp"),
    )
    excess = (
        per.join(totals, "l_partkey")
        .filter(F.col("qty") * F.col("n_supp") > F.col("sum_qty"))
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n_excess_parts"))
        .filter(F.col("n_excess_parts") >= _Q53_MIN_PARTS)
    )
    sn = (
        _t(spark, sf, "supplier")
        .join(F.broadcast(_t(spark, sf, "nation")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .selectExpr("s_suppkey AS l_suppkey", "s_name", "n_name")
    )
    return excess.join(F.broadcast(sn), "l_suppkey").selectExpr(
        "l_suppkey AS s_suppkey", "s_name", "n_name", "n_excess_parts"
    )


SQL_Q53 = f"""
WITH per AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS BIGINT) AS qty
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'PROMO'
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY l_partkey, l_suppkey),
totals AS (
  SELECT l_partkey, SUM(qty) AS sum_qty, COUNT(*) AS n_supp
  FROM per GROUP BY l_partkey),
excess AS (
  SELECT l_suppkey, COUNT(*) AS n_excess_parts
  FROM per JOIN totals USING (l_partkey)
  WHERE qty * n_supp > sum_qty
  GROUP BY l_suppkey
  HAVING COUNT(*) >= {_Q53_MIN_PARTS})
SELECT e.l_suppkey AS s_suppkey, s.s_name, n.n_name,
       CAST(e.n_excess_parts AS BIGINT) AS n_excess_parts
FROM excess e
JOIN supplier s ON e.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
"""


def mm04_patch_grid(spark: SparkSession, sf: str) -> DataFrame:
    """ViT-style PATCHIFY plumbing (the 2-D gather mm02's 1-D windows
    don't exercise): image-kind media are cut into non-overlapping 8×8
    tiles of a 16-byte-wide row-major byte matrix, one output row per
    tile with exact tile features. The mapInPandas fan-out is map-only
    (zero shuffle — partition lineage is preserved, same contract as
    mm02), and the DuckDB oracle rebuilds the payload hex chain and
    re-gathers every tile with pure integer arithmetic, so the 2-D
    offset math and tile CONTENT are correctness-gated, not counted.
    This is the tokenizer front-end shape for any vision model: swap the
    byte gather for decoded pixels and the plan is unchanged."""
    from .operators.multimodal import patch_grid

    media = _media_table(spark, sf).filter("kind = 'image'")
    return patch_grid(media).select(
        "media_id", "gx", "gy", "n", "sum_bytes", "patch_md5"
    )


def _sql_mm04() -> str:
    from .operators.multimodal import MEDIA_SEED, PATCH, PATCH_ROW_W

    hex2int = (
        "CAST(list_sum(list_transform(generate_series(1, 8), j ->"
        " CAST(strpos('0123456789abcdef', substring({h}, CAST(j AS INTEGER), 1)) - 1 AS BIGINT)"
        " << ((8 - CAST(j AS INTEGER)) * 4))) AS BIGINT)"
    )
    sz_md5 = f"md5('{MEDIA_SEED}:' || CAST(doc_id AS VARCHAR) || ':sz')"
    nib = "strpos('0123456789abcdef', substring(th, 2 * CAST(j AS INTEGER) - {o}, 1)) - 1"
    p, rw = PATCH, PATCH_ROW_W
    nx = rw // p
    return f"""
WITH m AS (
  SELECT doc_id AS media_id,
         64 + ({hex2int.format(h=f'substring({sz_md5}, 1, 8)')} % 1985) AS size
  FROM documents WHERE doc_id % 3 = 0),
ph AS (
  SELECT media_id, size,
         substring(array_to_string(list_transform(
             generate_series(0, CAST((size + 15) // 16 AS INTEGER) - 1),
             b -> md5('{MEDIA_SEED}:' || CAST(media_id AS VARCHAR) || ':' || CAST(b AS VARCHAR))), ''),
           1, CAST(2 * size AS INTEGER)) AS phex
  FROM m),
g AS (
  SELECT media_id, phex,
         CAST(unnest(generate_series(0, CAST((size // {rw}) // {p} AS INTEGER) * {nx} - 1))
           AS INTEGER) AS i
  FROM ph WHERE (size // {rw}) // {p} >= 1),
t AS (
  SELECT media_id, i % {nx} AS gx, i // {nx} AS gy,
         array_to_string(list_transform(generate_series(0, {p} - 1), ry ->
           substring(phex,
             CAST(2 * (((i // {nx}) * {p} + ry) * {rw} + (i % {nx}) * {p}) + 1 AS INTEGER),
             {2 * p})), '') AS th
  FROM g)
SELECT media_id, CAST(gx AS INTEGER) AS gx, CAST(gy AS INTEGER) AS gy,
       CAST({p} * {p} AS INTEGER) AS n,
       CAST(list_sum(list_transform(generate_series(1, {p * p}),
            j -> ({nib.format(o=1)}) * 16 + ({nib.format(o=0)}))) AS BIGINT) AS sum_bytes,
       md5(th) AS patch_md5
FROM t
"""


_HC_K = 4  # docs retained per source by the host cap


def q54_host_quality_cap(spark: SparkSession, sf: str) -> DataFrame:
    """Per-host retention cap — the crawl-pipeline op that bounds any one
    host's contribution to the corpus: keep the _HC_K highest-QUALITY
    docs per source (integer milli score from the q20 rule weights;
    ties broken by doc_id so the cap is a total order, reproducible
    across runs and engines).

    Scale shape: the same exact two-phase salted top-k as q39 — phase 1
    ranks within (source, doc_id % salt) slices so no reducer ever sorts
    a hot host's full row set (the entire point of a host cap is that
    some hosts are ENORMOUS), phase 2 ranks the <= salt*k survivors.
    A global top-k member is by definition within its own slice's top-k,
    so the phases are exact. The DuckDB oracle keeps the naive single
    ROW_NUMBER — a two-formulation equivalence proof."""
    f = _doc_feats(spark, sf)
    s = f.selectExpr(
        "source", "doc_id",
        f"CAST((CASE WHEN n_tokens BETWEEN {DOC_MIN_TOKENS} AND {DOC_MAX_TOKENS} THEN 400 ELSE 0 END)"
        f" + (CASE WHEN stop_frac >= {DOC_MIN_STOP_FRAC} THEN 300 ELSE 0 END)"
        f" + (CASE WHEN mean_word_len BETWEEN {TH.MIN_MEAN_WORD_LEN} AND {TH.MAX_MEAN_WORD_LEN} THEN 200 ELSE 0 END)"
        f" + (CASE WHEN lang IN {DOC_KEEP_LANGS!r} THEN 100 ELSE 0 END) AS INT) AS score_milli",
        f"doc_id % {_SALT_N} AS salt",
    )
    w1 = Window.partitionBy("source", "salt").orderBy(
        F.desc("score_milli"), F.asc("doc_id")
    )
    p1 = s.withColumn("rk1", F.row_number().over(w1)).filter(
        F.col("rk1") <= _HC_K
    )
    w2 = Window.partitionBy("source").orderBy(
        F.desc("score_milli"), F.asc("doc_id")
    )
    return (
        p1.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= _HC_K)
        .selectExpr("source", "CAST(rk AS INT) AS rk", "doc_id", "score_milli")
    )


SQL_Q54 = f"""
WITH f AS ({_DOC_FEATS_SQL}),
s AS (
  SELECT source, doc_id,
         CAST((CASE WHEN n_tokens BETWEEN {DOC_MIN_TOKENS} AND {DOC_MAX_TOKENS} THEN 400 ELSE 0 END)
            + (CASE WHEN stop_frac >= {DOC_MIN_STOP_FRAC} THEN 300 ELSE 0 END)
            + (CASE WHEN mean_word_len BETWEEN {TH.MIN_MEAN_WORD_LEN} AND {TH.MAX_MEAN_WORD_LEN} THEN 200 ELSE 0 END)
            + (CASE WHEN lang IN {DOC_KEEP_LANGS!r} THEN 100 ELSE 0 END) AS INTEGER) AS score_milli
  FROM f)
SELECT source, CAST(rk AS INTEGER) AS rk, doc_id, score_milli FROM (
  SELECT source, doc_id, score_milli,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY score_milli DESC, doc_id ASC) AS rk
  FROM s)
WHERE rk <= {_HC_K}
"""


def q55_unigram_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram-LM surprisal scoring — the KenLM-analog quality signal as
    pure DataFrame ops, INTEGER-EXACT: each token's surprisal is
    floor(log2(N / freq)) computed as bit-length arithmetic
    (length(bin(N div c)) - 1, the dc02 idiom — no float log anywhere,
    so the score is bit-identical across engines, partitionings, and
    reruns). Per-doc output: token count, total surprisal bits, and
    milli-mean bits/token — high mean = rare-token-heavy (gibberish or
    OOD), low mean = repetitive boilerplate; both tails are what a
    perplexity filter drops.

    Scale shape: the corpus tokenizes once (map-only explode), the LM is
    the vocab-sized freq table (one groupBy; a few million rows at
    100 TB), the corpus total is a 1-row broadcast, scoring is a
    BROADCAST hash join of tokens against the vocab (hinted — the token
    stream never shuffles), and the per-doc reduce partial-aggregates
    map-side. Upgrading to n-gram context = the same plan with an
    n-gram key."""
    d = _docs_par(spark, sf)
    toks = _TOKS_SPARK.format(c="text")
    tk = d.selectExpr("doc_id", f"explode({toks}) AS tok")
    freq = tk.groupBy("tok").agg(F.count("*").alias("c"))
    total = freq.agg(F.sum("c").alias("n"))
    fb = (
        freq.crossJoin(F.broadcast(total))
        .selectExpr("tok", "CAST(length(bin(n div c)) - 1 AS BIGINT) AS bits")
    )
    return (
        tk.join(F.broadcast(fb), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_toks"),
            F.sum("bits").alias("surprisal_bits"),
        )
        .selectExpr(
            "doc_id", "CAST(n_toks AS BIGINT) AS n_toks",
            "CAST(surprisal_bits AS BIGINT) AS surprisal_bits",
            "CAST(surprisal_bits * 1000 div n_toks AS BIGINT) AS mean_bits_milli",
        )
    )


def _sql_q55() -> str:
    t = _TOKS_DUCK.format(c="text")
    return f"""
WITH tk AS (SELECT doc_id, unnest({t}) AS tok FROM documents),
freq AS (SELECT tok, COUNT(*) AS c FROM tk GROUP BY tok),
tot AS (SELECT SUM(c) AS n FROM freq),
fb AS (
  SELECT tok, CAST(length(printf('%b', CAST(n // c AS BIGINT))) - 1 AS BIGINT) AS bits
  FROM freq CROSS JOIN tot)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
       CAST(SUM(bits) AS BIGINT) AS surprisal_bits,
       CAST(SUM(bits) * 1000 // COUNT(*) AS BIGINT) AS mean_bits_milli
FROM tk JOIN fb USING (tok) GROUP BY doc_id
"""


def q56_bigram_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram CONDITIONAL surprisal — q55 with one token of context, the
    actual KenLM direction: each bigram occurrence scores
    floor(log2(c1(w1) / c2(w1,w2))), an integer-exact stand-in for
    -log2 p(w2|w1) (c2 <= c1 by construction, so the ratio is >= 1 and
    bit-length arithmetic needs no guards). Per-doc totals separate
    predictable running text (low bits/bigram) from token salad (high).

    Scale shape: bigrams are formed MAP-SIDE from each doc's token array
    (explode of adjacent pairs — the token stream is never self-joined),
    the bigram LM table is one groupBy, its conditioning join against
    the vocab-sized unigram table BROADCASTS the small side, and the
    scoring join is a plain equi-join on (w1, w2) — at 100 TB the bigram
    table outgrows broadcast range, so unlike q55 the scoring join is
    left to AQE (shuffle hash join on the compound key), which is the
    honest plan for an n-gram LM at scale."""
    d = _docs_par(spark, sf)
    toks = _TOKS_SPARK.format(c="text")
    tt = d.selectExpr("doc_id", f"{toks} AS t")
    bg = (
        tt.filter("size(t) >= 2")
        .selectExpr(
            "doc_id",
            # zip_with slices, not element_at-per-index (O(n²)/doc) —
            # same pair list, same order (the _SHINGLES_SPARK lesson)
            "explode(zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
            " (a, b) -> named_struct('w1', a, 'w2', b))) AS b",
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    c1 = (
        tt.selectExpr("explode(t) AS w1")
        .groupBy("w1").agg(F.count("*").alias("c1"))
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    bits = c2.join(F.broadcast(c1), "w1").selectExpr(
        "w1", "w2", "CAST(length(bin(c1 div c2)) - 1 AS BIGINT) AS bits"
    )
    return (
        bg.join(bits, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("bits").alias("surprisal_bits"),
        )
        .selectExpr(
            "doc_id", "CAST(n_bigrams AS BIGINT) AS n_bigrams",
            "CAST(surprisal_bits AS BIGINT) AS surprisal_bits",
            "CAST(surprisal_bits * 1000 div n_bigrams AS BIGINT) AS mean_bits_milli",
        )
    )


def _sql_q56() -> str:
    t = _TOKS_DUCK.format(c="text")
    return f"""
WITH tt AS (SELECT doc_id, {t} AS t FROM documents),
bg AS (
  SELECT doc_id,
         unnest(t[1:len(t) - 1]) AS w1,
         unnest(t[2:len(t)]) AS w2
  FROM tt WHERE len(t) >= 2),
c1 AS (
  SELECT w1, COUNT(*) AS c1
  FROM (SELECT unnest(t) AS w1 FROM tt) GROUP BY w1),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
bits AS (
  SELECT w1, w2,
         CAST(length(printf('%b', CAST(c1 // c2 AS BIGINT))) - 1 AS BIGINT) AS bits
  FROM c2 JOIN c1 USING (w1))
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(bits) AS BIGINT) AS surprisal_bits,
       CAST(SUM(bits) * 1000 // COUNT(*) AS BIGINT) AS mean_bits_milli
FROM bg JOIN bits USING (w1, w2) GROUP BY doc_id
"""


_LP_SEEDS = 16  # coarse seed-label buckets for the propagation round


def g03_label_propagation(spark: SparkSession, sf: str) -> DataFrame:
    """One synchronous LABEL-PROPAGATION round over the mutual-kNN graph
    (community detection, completing the g01/g02 family): nodes start
    from coarse seed labels (vec_id % _LP_SEEDS — the stand-in for LSH
    bucket ids), and each node adopts the MODE of its neighbors' labels,
    tie-broken by smallest label (the deterministic LPA convention).
    Isolated nodes keep their seed. A full LPA is this plan in a driver
    loop over a checkpointed label table, exactly the km01/g02 framing.

    Spark shape: symmetrized edges (unioned projections), one groupBy
    for per-(node, label) vote counts, then ARGMAX VIA STRUCT MIN on
    (-votes, label) — the q52 idiom: partial-aggregable, no rank window
    over the vote table. Every shuffle keys on node id."""
    e = _sim08_edges(spark, sf)
    sym = e.selectExpr("id_a AS dst", "id_b AS src").union(
        e.selectExpr("id_b AS dst", "id_a AS src")
    )
    votes = (
        sym.selectExpr("dst", f"src % {_LP_SEEDS} AS lbl")
        .groupBy("dst", "lbl")
        .agg(F.count("*").alias("nv"))
    )
    best = votes.groupBy("dst").agg(
        F.min(F.struct((-F.col("nv")).alias("neg"), F.col("lbl"))).alias("m")
    )
    nodes = _t(spark, sf, "embeddings").select("vec_id")
    return (
        nodes.join(best.selectExpr("dst AS vec_id", "m"), "vec_id", "left")
        .selectExpr(
            "vec_id",
            f"CAST(vec_id % {_LP_SEEDS} AS BIGINT) AS seed_lbl",
            f"CAST(coalesce(m.lbl, vec_id % {_LP_SEEDS}) AS BIGINT) AS new_lbl",
            "CAST(coalesce(-m.neg, 0) AS BIGINT) AS n_votes",
        )
    )


def _sql_g03() -> str:
    return f"""
WITH {_sql_sim08_ctes()},
sym AS (SELECT id_a AS dst, id_b AS src FROM mknn
        UNION ALL SELECT id_b AS dst, id_a AS src FROM mknn),
votes AS (
  SELECT dst, src % {_LP_SEEDS} AS lbl, COUNT(*) AS nv
  FROM sym GROUP BY dst, src % {_LP_SEEDS}),
best AS (
  SELECT dst, lbl, nv FROM (
    SELECT dst, lbl, nv,
           ROW_NUMBER() OVER (PARTITION BY dst
                              ORDER BY nv DESC, lbl ASC) AS rk
    FROM votes) WHERE rk = 1)
SELECT e.vec_id,
       CAST(e.vec_id % {_LP_SEEDS} AS BIGINT) AS seed_lbl,
       CAST(COALESCE(b.lbl, e.vec_id % {_LP_SEEDS}) AS BIGINT) AS new_lbl,
       CAST(COALESCE(b.nv, 0) AS BIGINT) AS n_votes
FROM embeddings e LEFT JOIN best b ON b.dst = e.vec_id
"""


def q57_source_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source token-distribution DRIFT — the corpus-monitoring op a
    production pipeline runs per ingest batch to catch a crawl source
    going off-distribution (spam flood, template change, language
    shift). For each source, the L1 distance between its observed token
    counts and the counts expected if it sampled the corpus
    distribution: expected(s,t) = c(t)·n(s) div N, drift_micro =
    1e6·Σ|obs − exp| div n(s), summed over the tokens the source
    actually contains. ALL INTEGER — no float ratios, so the statistic
    is partition-invariant and cross-engine exact (at 10^13-token scale
    the c·n products need DECIMAL(38) widening, the q23 convention).

    Scale shape: one (source, tok) groupBy over the exploded corpus;
    the vocab table and the per-source totals both BROADCAST into it
    (vocab is millions of rows, sources are thousands — both dim-sized
    vs the pair table); the only wide shuffle is keyed on the compound
    (source, tok). The final reduce is per-source, map-side combined."""
    d = _t(spark, sf, "documents")
    toks = _TOKS_SPARK.format(c="text")
    tk = d.selectExpr("source", f"explode({toks}) AS tok")
    cs = tk.groupBy("source", "tok").agg(F.count("*").alias("cs"))
    c = tk.groupBy("tok").agg(F.count("*").alias("c"))
    ns = cs.groupBy("source").agg(F.sum("cs").alias("ns"))
    n = c.agg(F.sum("c").alias("n"))
    return (
        cs.join(F.broadcast(c), "tok")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(n))
        .selectExpr("source", "ns", "abs(cs - (c * ns) div n) AS d")
        .groupBy("source")
        .agg(F.first("ns").alias("ns"), F.sum("d").alias("l1"))
        .selectExpr(
            "source", "CAST(ns AS BIGINT) AS n_toks",
            "CAST(l1 AS BIGINT) AS l1_abs",
            "CAST(l1 * 1000000 div ns AS BIGINT) AS drift_micro",
        )
    )


def _sql_q57() -> str:
    t = _TOKS_DUCK.format(c="text")
    return f"""
WITH tk AS (SELECT source, unnest({t}) AS tok FROM documents),
cs AS (SELECT source, tok, COUNT(*) AS cs FROM tk GROUP BY source, tok),
c AS (SELECT tok, COUNT(*) AS c FROM tk GROUP BY tok),
ns AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS ns FROM cs GROUP BY source),
n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c),
d AS (
  SELECT cs.source, ns.ns,
         abs(cs.cs - (c.c * ns.ns) // n.n) AS d
  FROM cs JOIN c USING (tok) JOIN ns ON ns.source = cs.source CROSS JOIN n)
SELECT source, CAST(MIN(ns) AS BIGINT) AS n_toks,
       CAST(SUM(d) AS BIGINT) AS l1_abs,
       CAST(SUM(d) * 1000000 // MIN(ns) AS BIGINT) AS drift_micro
FROM d GROUP BY source
"""


def q58_order_count_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 analog (customer distribution): histogram of per-customer
    order counts INCLUDING zero-order customers, with a category
    exclusion (priority '5-LOW' stands in for Q13's comment filter).

    Spark-first shape: instead of the textbook LEFT JOIN then
    double-GROUP BY (which shuffles the full customer×order pair stream),
    orders partial-aggregate to one row per custkey FIRST (map-side
    combine shrinks the shuffle to customer-sized), the LEFT join keys
    both sides on custkey, and the final histogram groupBy collapses to
    the handful of distinct counts — a reduce small enough for a single
    stage. The DuckDB oracle keeps the textbook LEFT JOIN form, so this
    is a two-formulation equivalence proof (the q35/q42 pattern).
    Zero-order customers flow through the join as NULL→0 — the part a
    naive inner-join formulation silently drops."""
    counts = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderpriority") != "5-LOW")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("cnt"))
    )
    c = _t(spark, sf, "customer").select("c_custkey")
    return (
        c.join(counts, c.c_custkey == counts.o_custkey, "left")
        .selectExpr("CAST(coalesce(cnt, 0) AS BIGINT) AS c_count")
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .selectExpr("c_count", "CAST(custdist AS BIGINT) AS custdist")
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


SQL_Q58 = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


_Q59_LATE_DAYS = 60  # ship-lag beyond which a lineitem counts as late


def q59_waiting_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 analog (suppliers who kept orders waiting): for finished
    ('F') orders with MORE THAN ONE supplier where EXACTLY ONE supplier
    shipped late (shipdate > orderdate + 60 days — the analog of Q21's
    receipt-past-commit predicate, which this schema lacks), count each
    late line against that lone late supplier.

    Q21's textbook form is a double correlated EXISTS / NOT EXISTS
    self-join over lineitem — three scans and two semi-join shuffles of
    the fact table. The Spark-first rewrite aggregates each order ONCE:
    one groupBy(orderkey) computes n_suppliers and n_late_suppliers
    (two distinct-counts, partial-aggregable), and a single equi-join of
    the late lines against the qualifying orders (ns > 1 AND nl = 1)
    replaces both EXISTS probes. The fact table is scanned once and
    shuffled on orderkey twice total; the supplier dim broadcasts for
    names. The DuckDB oracle keeps the naive EXISTS/NOT-EXISTS form —
    a two-formulation equivalence proof of the rewrite."""
    o = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).selectExpr(
        "l_orderkey", "l_suppkey",
        f"l_shipdate > o_orderdate + INTERVAL {_Q59_LATE_DAYS} DAY AS late",
    )
    oa = j.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("ns"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("nl"),
    )
    waiting = (
        j.filter("late")
        .join(oa.filter("ns > 1 AND nl = 1"), "l_orderkey")
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
    )
    s = _t(spark, sf, "supplier").selectExpr("s_suppkey AS l_suppkey", "s_name")
    return (
        waiting.join(F.broadcast(s), "l_suppkey")
        .selectExpr("s_name", "CAST(numwait AS BIGINT) AS numwait")
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(100)
    )


SQL_Q59 = f"""
WITH j AS (
  SELECT l.l_orderkey, l.l_suppkey,
         l.l_shipdate > o.o_orderdate + INTERVAL {_Q59_LATE_DAYS} DAY AS late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F')
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM j l1 JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE l1.late
  AND EXISTS (SELECT 1 FROM j l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM j l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC LIMIT 100
"""

_Q60_CUTOFF = "2000-01-01 00:00:00"  # idle = no order on/after this date


def q60_idle_rich_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 analog (global-sales-opportunity): per nation, the count
    and total balance of customers whose balance exceeds the average
    positive balance AND who placed no order since the cutoff (this
    schema's stand-in for Q22's no-orders-at-all, which is empty here —
    every synthetic customer orders).

    Spark-first shapes, all three Q22 pain points addressed: (1) the
    scalar AVG subquery becomes a 1-row broadcast crossJoin — never a
    driver collect; (2) the above-average test is an INTEGER
    cross-multiply (cents·n > sum_cents — the q53 idiom), so no float
    average whose partial-sum order could flip a boundary row between
    engines; (3) the no-recent-orders probe is a LEFT ANTI join keyed on
    custkey (Spark's anti-join needs no pre-distinct on the build side).
    Balances route through DECIMAL(18,4)·100 per the cross-engine
    truncate-vs-round rule."""
    cents = "CAST(CAST(c_acctbal AS DECIMAL(18,4)) * 100 AS BIGINT)"
    c = _t(spark, sf, "customer").selectExpr(
        "c_custkey", "c_nationkey", f"{cents} AS cents"
    )
    pos = c.filter("cents > 0").agg(
        F.sum("cents").alias("s"), F.count("*").alias("n")
    )
    recent = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderdate") >= F.lit(_Q60_CUTOFF).cast("timestamp"))
        .selectExpr("o_custkey AS c_custkey")
    )
    return (
        c.crossJoin(F.broadcast(pos))
        .filter(F.col("cents") * F.col("n") > F.col("s"))
        .join(recent, "c_custkey", "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("numcust"), F.sum("cents").alias("tot_cents"))
        .selectExpr(
            "CAST(c_nationkey AS BIGINT) AS c_nationkey",
            "CAST(numcust AS BIGINT) AS numcust",
            "CAST(tot_cents AS BIGINT) AS tot_cents",
        )
        .orderBy("c_nationkey")
    )


SQL_Q60 = f"""
WITH c AS (
  SELECT c_custkey, c_nationkey,
         CAST(CAST(c_acctbal AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents
  FROM customer),
pos AS (SELECT SUM(cents) AS s, COUNT(*) AS n FROM c WHERE cents > 0)
SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(cents) AS BIGINT) AS tot_cents
FROM c CROSS JOIN pos
WHERE cents * n > s
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '{_Q60_CUTOFF}')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


def q61_gopher_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style REPETITION signals (Rae et al. 2021 §A1.1), the two
    n-gram repetition rules a web-text quality filter runs per document:
    top2_milli = fraction of characters covered by occurrences of the
    single most frequent word BIGRAM, and dup5_milli = character mass of
    duplicated word 5-GRAMS (those occurring >= 2 times, all occurrences
    counted — overlaps inflate it past 1000 by design, it is a mass not
    a coverage). Both are INTEGER per-mille over the space-joined token
    length, so the statistic is partition-invariant and cross-engine
    exact. Docs need >= 5 tokens to have a 5-gram.

    Scale shape: n-grams are formed MAP-SIDE from each doc's token array
    (no self-join), both count tables key their one shuffle on
    (doc_id, gram), the per-doc argmax is STRUCT MIN on (-count, gram)
    (the q52 idiom — no rank window), and the final assembly is two
    doc-keyed joins (dup5 LEFT — most docs have no duplicated 5-gram).
    Reference analog: the reference has no corpus-quality stage; this is
    the Gopher rule the north-star pipeline needs."""
    d = _docs_par(spark, sf)
    toks = _TOKS_SPARK.format(c="text")
    base = (
        d.selectExpr("doc_id", f"{toks} AS t")
        .filter("size(t) >= 5")
        .selectExpr(
            "doc_id", "t",
            "length(array_join(t, ' ')) AS nc", "size(t) AS n_toks",
        )
    )
    g2 = base.selectExpr(
        "doc_id",
        # zip_with slices, not element_at-per-index (O(n²)/doc) — same
        # gram list, same order (the _SHINGLES_SPARK lesson)
        "explode(zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
        " (a, b) -> concat(a, ' ', b))) AS g",
    )
    top2 = (
        g2.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.min(F.struct((-F.col("c")).alias("neg"), F.col("g"))).alias("m"))
        .selectExpr("doc_id", "(-m.neg) * length(m.g) AS top2_chars")
    )
    g5 = base.selectExpr(
        "doc_id",
        "explode(transform(sequence(1, size(t) - 4),"
        " i -> array_join(slice(t, i, 5), ' '))) AS g",
    )
    dup5 = (
        g5.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
        .filter("c >= 2")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.length("g")).alias("mass"))
    )
    return (
        base.select("doc_id", "nc", "n_toks")
        .join(top2, "doc_id")
        .join(dup5, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "CAST(n_toks AS BIGINT) AS n_toks",
            "CAST(top2_chars * 1000 div nc AS BIGINT) AS top2_milli",
            "CAST(coalesce(mass, 0) * 1000 div nc AS BIGINT) AS dup5_milli",
        )
    )


def _sql_q61() -> str:
    t = _TOKS_DUCK.format(c="text")
    return f"""
WITH tt AS (SELECT doc_id, {t} AS t FROM documents),
base AS (
  SELECT doc_id, t, length(array_to_string(t, ' ')) AS nc, len(t) AS n_toks
  FROM tt WHERE len(t) >= 5),
g2 AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
           i -> t[i] || ' ' || t[i + 1])) AS g
  FROM base),
c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g),
top2 AS (
  SELECT doc_id, c * length(g) AS top2_chars FROM (
    SELECT doc_id, g, c,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY c DESC, g ASC) AS rk
    FROM c2) WHERE rk = 1),
g5 AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 4),
           i -> array_to_string(t[i:i + 4], ' '))) AS g
  FROM base),
c5 AS (SELECT doc_id, g, COUNT(*) AS c FROM g5 GROUP BY doc_id, g),
dup5 AS (
  SELECT doc_id, SUM(c * length(g)) AS mass
  FROM c5 WHERE c >= 2 GROUP BY doc_id)
SELECT b.doc_id, CAST(b.n_toks AS BIGINT) AS n_toks,
       CAST(t2.top2_chars * 1000 // b.nc AS BIGINT) AS top2_milli,
       CAST(COALESCE(d5.mass, 0) * 1000 // b.nc AS BIGINT) AS dup5_milli
FROM base b JOIN top2 t2 USING (doc_id) LEFT JOIN dup5 d5 USING (doc_id)
"""


def q62_event_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """First-order MARKOV TRANSITION MATRIX over per-user event streams:
    for each (previous event_type, event_type) pair, the transition
    count and its per-mille share of all transitions. The behavioral
    sibling of q05/q49 — sessionize and funnel read the stream forward,
    this one conditions each event on its predecessor (LAG window).

    Scale shape: ONE shuffle keyed on user_id, the lag is a linear
    per-partition scan (ordered by ts with event_id as the unique
    tie-break, so concurrent-timestamp users are deterministic), the
    transition matrix is |types|^2 rows — driver-trivial — and the
    grand total joins back as a 1-row broadcast crossJoin, never a
    collect. Integer per-mille keeps the hash cross-engine exact."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        e.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count("*").alias("n"))
    )
    tot = tr.agg(F.sum("n").alias("tot"))
    return (
        tr.crossJoin(F.broadcast(tot))
        .selectExpr(
            "prev_type", "event_type", "CAST(n AS BIGINT) AS n",
            "CAST(n * 1000 div tot AS BIGINT) AS share_milli",
        )
        .orderBy("prev_type", "event_type")
    )


SQL_Q62 = """
WITH tr AS (
  SELECT prev_type, event_type, COUNT(*) AS n FROM (
    SELECT LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type,
           event_type
    FROM events)
  WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type),
tot AS (SELECT SUM(n) AS tot FROM tr)
SELECT prev_type, event_type, CAST(n AS BIGINT) AS n,
       CAST(n * 1000 // tot AS BIGINT) AS share_milli
FROM tr CROSS JOIN tot
ORDER BY prev_type, event_type
"""


_BPE_TRAIN_STEPS = 3  # learned-merge iterations in the q63 trainer


def _bpe_pairs_expr(s: str) -> str:
    """Spark SQL: adjacent symbol pairs of a space-joined symbol string."""
    return (
        f"explode(transform(sequence(1, size(split({s}, ' ')) - 1),"
        f" i -> concat(element_at(split({s}, ' '), i), ' ',"
        f"             element_at(split({s}, ' '), i + 1))))"
    )


def q63_bpe_train3(spark: SparkSession, sf: str) -> DataFrame:
    """BPE TRAINER, three full merge iterations — the loop q41 (pair
    counting) and q51 (one merge application) are single steps of. Each
    iteration: count adjacent symbol pairs over the (word, freq) vocab,
    pick the argmax pair (count DESC, pair ASC — the standard
    deterministic tie-break), and apply it as BPE's greedy leftmost
    non-overlapping single-pass merge. Output: the learned merge table,
    one row per step.

    The merge pass is pure string algebra, no per-row Python: pad the
    symbol string to DOUBLE-space gaps, then a single `replace` of
    ' a  b ' with ' ab ' IS the greedy pass — each match consumes one
    space from each neighboring double gap, so back-to-back pairs
    ('a b a b') still match, while the shared-symbol chain ('a a a')
    merges only leftmost — exactly BPE semantics, identical in Spark and
    DuckDB (both scan leftmost non-overlapping without rescanning
    replaced text). A third-way Python reference BPE verifies this in
    tests/test_r5d_ops.py.

    Scale shape: the corpus collapses to the vocab ONCE (one groupBy);
    each iteration is then one vocab-sized groupBy for pair counts, a
    1-row broadcast crossJoin for the argmax (never a collect), and a
    map-only rewrite — K merges cost K small shuffles with no growth.
    Reference analog: none (the reference tokenizes per-doc in Python);
    this is the trainer-side primitive of the north-star pipeline."""
    d = _docs_par(spark, sf)
    toks = _TOKS_SPARK.format(c="text")
    cur = (
        d.selectExpr(f"explode({toks}) AS w")
        .groupBy("w").agg(F.count("*").alias("freq"))
        .filter("length(w) >= 2")
        .selectExpr(
            "array_join(transform(sequence(1, length(w)),"
            " i -> substring(w, i, 1)), ' ') AS s",
            "freq",
        )
    )
    # checkpoint the vocab table at every step: the final 3-step union
    # otherwise embeds s0 in THREE subtrees (t1, t2 via s1, t3 via s2)
    # and s1 in two, so the corpus collapse re-ran per step — a
    # vocab-sized scratch write per merge makes each pass run once
    # (guide §2.4/§3.3: materialize shared intermediates of an
    # iterative plan instead of re-deriving them under a growing tree)
    cur = _checkpoint(cur, "q63_s0", sf)
    steps = []
    for step in range(1, _BPE_TRAIN_STEPS + 1):
        pairs = (
            cur.filter("size(split(s, ' ')) >= 2")
            .selectExpr(f"{_bpe_pairs_expr('s')} AS pair", "freq")
        )
        top1 = (
            pairs.groupBy("pair").agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), F.asc("pair")).limit(1)
            .selectExpr(
                f"CAST({step} AS BIGINT) AS step", "pair",
                "replace(pair, ' ', '') AS merged", "CAST(n AS BIGINT) AS n",
            )
        )
        steps.append(top1)
        # double-space padding makes one non-overlapping replace pass
        # exactly BPE's greedy leftmost merge (see docstring)
        if step < _BPE_TRAIN_STEPS:
            cur = _checkpoint(
                cur.crossJoin(F.broadcast(top1.select("pair", "merged")))
                .selectExpr(
                    "array_join(filter(split("
                    " replace(concat('  ', replace(s, ' ', '  '), '  '),"
                    "         concat(' ', replace(pair, ' ', '  '), ' '),"
                    "         concat(' ', merged, ' ')),"
                    " ' '), x -> x != ''), ' ') AS s",
                    "freq",
                ),
                f"q63_s{step}", sf,
            )
    out = steps[0]
    for s_df in steps[1:]:
        out = out.union(s_df)
    return out.orderBy("step")


def _sql_q63() -> str:
    t = _TOKS_DUCK.format(c="text")

    def pairs(src: str) -> str:
        return f"""
  SELECT unnest(list_transform(generate_series(1, len(y) - 1),
           i -> y[i] || ' ' || y[i + 1])) AS pair, freq
  FROM (SELECT string_split(s, ' ') AS y, freq FROM {src})
  WHERE len(y) >= 2"""

    def top(p: str, step: int) -> str:
        return f"""
  SELECT CAST({step} AS BIGINT) AS step, pair,
         replace(pair, ' ', '') AS merged, CAST(n AS BIGINT) AS n
  FROM (SELECT pair, SUM(freq) AS n FROM {p} GROUP BY pair
        ORDER BY n DESC, pair ASC LIMIT 1)"""

    def apply(src: str, tp: str) -> str:
        return f"""
  SELECT array_to_string(list_filter(string_split(
           replace('  ' || replace(s, ' ', '  ') || '  ',
                   ' ' || replace(pair, ' ', '  ') || ' ',
                   ' ' || merged || ' '),
           ' '), x -> x <> ''), ' ') AS s, freq
  FROM {src} CROSS JOIN {tp}"""

    return f"""
WITH wf AS (
  SELECT w, COUNT(*) AS freq
  FROM (SELECT unnest({t}) AS w FROM documents) GROUP BY w
  HAVING length(w) >= 2),
s0 AS (
  SELECT array_to_string(list_transform(generate_series(1, length(w)),
           i -> substring(w, CAST(i AS INTEGER), 1)), ' ') AS s, freq
  FROM wf),
p1 AS ({pairs('s0')}),
t1 AS ({top('p1', 1)}),
s1 AS ({apply('s0', 't1')}),
p2 AS ({pairs('s1')}),
t2 AS ({top('p2', 2)}),
s2 AS ({apply('s1', 't2')}),
p3 AS ({pairs('s2')}),
t3 AS ({top('p3', 3)})
SELECT * FROM t1 UNION ALL SELECT * FROM t2 UNION ALL SELECT * FROM t3
ORDER BY step
"""


_REV_DMIL = (
    "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))"
    " * 10000 AS BIGINT)"
)  # discounted revenue in 1e-4 currency units — integral, so exact cross-engine


def q64_top_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 analog (top supplier): the supplier(s) whose Q1-1996
    discounted revenue equals the GLOBAL maximum — ties kept, per Q15's
    view-with-scalar-subquery semantics.

    Spark-first shape for a global argmax WITH ties (distinct from q52's
    per-group struct-MIN, which keeps exactly one row): the per-supplier
    aggregate computes once, its 1-row MAX re-aggregates and re-enters as
    a broadcast crossJoin filter — never a rank window over the full
    aggregate (a single-partition sort at scale) and never a driver
    collect. Revenue is summed as DECIMAL(18,4) (exact partials) and
    reported in integral 1e-4 units so the driver's typed hash can't see
    float partial-sum order. The DuckDB oracle keeps Q15's textbook
    scalar-subquery form — a two-formulation equivalence proof."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(F.expr(_REV_DMIL).alias("rev_dmil"))
    mx = rev.agg(F.max("rev_dmil").alias("mx"))
    s = _t(spark, sf, "supplier").selectExpr("s_suppkey AS l_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter("rev_dmil = mx")
        .join(F.broadcast(s), "l_suppkey")
        .selectExpr("l_suppkey AS s_suppkey", "s_name", "rev_dmil")
        .orderBy("s_suppkey")
    )


SQL_Q64 = f"""
WITH rev AS (
  SELECT l_suppkey, {_REV_DMIL} AS rev_dmil
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, rev_dmil
FROM rev JOIN supplier ON s_suppkey = l_suppkey
WHERE rev_dmil = (SELECT MAX(rev_dmil) FROM rev)
ORDER BY s_suppkey
"""


def q65_nation_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 analog (volume shipping): cross-border revenue by
    (supplier nation, customer nation, ship year) for 1996-1997, i.e.
    the nation dim plays TWO ROLES in one query — once through
    lineitem⋈supplier, once through orders⋈customer.

    Scale shape: nation and supplier broadcast (genuine dims); customer
    does NOT — at web scale customers are fact-sized, so customer⋈orders
    is a shuffled equi-join on custkey, and the one other big shuffle
    keys lineitem⋈orders on orderkey. The year filter applies before the
    fact-fact join. Output is |nations|²·2 rows — reduce-side trivial.
    Revenue in integral 1e-4 units (exact DECIMAL partials)."""
    n = _t(spark, sf, "nation").select("n_nationkey", "n_name")
    s = (
        _t(spark, sf, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .selectExpr("s_suppkey AS l_suppkey", "n_name AS supp_nation")
    )
    c = (
        _t(spark, sf, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .selectExpr("c_custkey AS o_custkey", "n_name AS cust_nation")
    )
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey").join(
        c, "o_custkey"
    )
    li = _t(spark, sf, "lineitem").filter(
        F.year("l_shipdate").isin(1996, 1997)
    ).selectExpr(
        "l_orderkey", "l_suppkey",
        "CAST(year(l_shipdate) AS BIGINT) AS l_year",
        "l_extendedprice", "l_discount",
    )
    return (
        li.join(F.broadcast(s), "l_suppkey")
        .join(o, li.l_orderkey == o.o_orderkey)
        .filter("supp_nation != cust_nation")
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.expr(_REV_DMIL).alias("volume_dmil"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


SQL_Q65 = f"""
SELECT supp_nation, cust_nation, l_year, {_REV_DMIL} AS volume_dmil
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         l_extendedprice, l_discount
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE year(l_shipdate) IN (1996, 1997)
    AND n1.n_name <> n2.n_name)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


_Q66_SIZES = (1, 4, 9, 16, 25, 36, 49)


def q66_part_supplier_counts(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 analog (parts/supplier relationship): distinct supplier
    count per (brand, type, size) over qualifying parts, EXCLUDING a
    supplier blocklist (names containing '7' — the analog of Q16's
    comment-pattern complaint filter; this schema has no s_comment).

    Scale shape: the part-supplier relation (this schema's partsupp) is
    recovered as DISTINCT (l_partkey, l_suppkey) from the fact table —
    one map-side-combining shuffle; Q16's NOT IN subquery becomes a
    broadcast LEFT ANTI join (the blocklist is dim-sized); part
    broadcasts with its three filters applied BEFORE the join; the final
    COUNT(DISTINCT) rides the already-distinct pair stream. The DuckDB
    oracle keeps the textbook NOT-IN form."""
    ps = _t(spark, sf, "lineitem").select("l_partkey", "l_suppkey").distinct()
    p = (
        _t(spark, sf, "part")
        .filter(
            (F.col("p_brand") != "Brand#13")
            & (F.col("p_type") != "STANDARD")
            & F.col("p_size").isin(*_Q66_SIZES)
        )
        .selectExpr("p_partkey AS l_partkey", "p_brand", "p_type", "p_size")
    )
    bad = (
        _t(spark, sf, "supplier")
        .filter(F.col("s_name").like("%7%"))
        .selectExpr("s_suppkey AS l_suppkey")
    )
    return (
        ps.join(F.broadcast(p), "l_partkey")
        .join(F.broadcast(bad), "l_suppkey", "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .selectExpr(
            "p_brand", "p_type", "CAST(p_size AS BIGINT) AS p_size",
            "CAST(supplier_cnt AS BIGINT) AS supplier_cnt",
        )
        .orderBy(
            F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_type"),
            F.asc("p_size"),
        )
    )


SQL_Q66 = f"""
SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#13' AND p_type <> 'STANDARD'
  AND p_size IN {_Q66_SIZES}
  AND l_suppkey NOT IN
      (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7%')
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def _dd16_sets(
    spark: SparkSession, sf: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared per-SOURCE shingle-set stage for dd16/dd17: (ss, sizes,
    inter) — the checkpointed distinct (source, shingle) table, per-
    source set sizes, and the inverted-index pairwise intersection
    counts (self-join keyed on the shingle: a shingle in S sources
    yields ≤ S²/2 pair rows, bounded by the SOURCE count, never
    doc×doc)."""
    par = spark.sparkContext.defaultParallelism
    # per-source sets = the shared per-doc shingle table re-keyed by
    # source (broadcast doc->source map) — no second tokenize+shingle
    # pass; per-doc arrays are already distinct, the (source, sh)
    # distinct collapses across docs exactly as before
    src_map = _t(spark, sf, "documents").select("doc_id", "source")
    ss = (
        _shingle_mat(spark, sf)
        .join(F.broadcast(src_map), "doc_id")
        .selectExpr("source", "explode(sh) AS sh")
        .distinct()
    )
    ss = _checkpoint(ss, "dd16_ss", sf)  # 3 consumers
    sizes = ss.groupBy("source").agg(F.count("*").alias("n_sh"))
    # explicit numbered repartition: the (source, shingle) table is small
    # in bytes but the shingle self-join fans out up to |sources|^2/2 rows
    # per shingle — same AQE-coalescing hazard as dd03's index join
    ssr = ss.repartition(par, "sh")
    inter = (
        ssr.selectExpr("source AS src_a", "sh")
        .join(ssr.selectExpr("source AS src_b", "sh"), "sh")
        .filter("src_a < src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return ss, sizes, inter


def dd16_source_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """CORPUS-level overlap matrix: for every source pair sharing at
    least one 3-shingle, the EXACT shingle-set Jaccard (per-mille) next
    to its MinHash ESTIMATE (matching signature components per-mille,
    dd02's 128 md5+affine permutations aggregated per SOURCE instead of
    per doc). The dataset-curation question dd02 answers per document —
    "how much does crawl A duplicate crawl B?" — answered per corpus,
    with the estimate's error auditable against the exact column.

    Scale shape: exact intersections use the inverted index (see
    _dd16_sets); per-source set sizes and signatures are each one
    groupBy(source) with map-side combine (the 128 MINs follow dd02's
    codegen'd-aggregate form); signatures re-enter as two broadcast
    equi-joins onto the pair rows (the non-equi pairing is inherited
    from the inverted index — never a BNLJ). Only the |sources|-sized
    tables ever sit on the reduce side."""
    ss, sizes, inter = _dd16_sets(spark, sf)
    # per-source mins computed as PARTIAL per-batch DuckDB aggregates
    # (the dd02 sig pattern; md5->int is the oracle's hv expression),
    # then a tiny JVM min-of-mins per source: sources span batches, so
    # unlike dd02 one JVM combine remains — over |sources| x #batches
    # rows instead of the full exploded (source, shingle-hash) table.
    sig = (
        _duckdb_map(ss, *_minhash_sql("source", "string", unnest=False))
        .groupBy("source")
        .agg(*[F.min(f"m{i}").alias(f"m{i}") for i in range(NUM_HASHES)])
        .select(
            "source", F.array(*[f"m{i}" for i in range(NUM_HASHES)]).alias("sig")
        )
    )
    return (
        inter
        .join(F.broadcast(sizes.selectExpr("source AS src_a", "n_sh AS na")), "src_a")
        .join(F.broadcast(sizes.selectExpr("source AS src_b", "n_sh AS nb")), "src_b")
        .join(F.broadcast(sig.selectExpr("source AS src_a", "sig AS sig_a")), "src_a")
        .join(F.broadcast(sig.selectExpr("source AS src_b", "sig AS sig_b")), "src_b")
        .selectExpr(
            "src_a", "src_b", "CAST(n_inter AS BIGINT) AS n_inter",
            "CAST(na + nb - n_inter AS BIGINT) AS n_union",
            "CAST(n_inter * 1000 div (na + nb - n_inter) AS BIGINT)"
            " AS jacc_milli",
            "CAST(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y),"
            f" z -> z)) * 1000 div {NUM_HASHES} AS BIGINT) AS est_milli",
        )
        .orderBy("src_a", "src_b")
    )


def _sql_dd16() -> str:
    t = _TOKS_DUCK.format(c="text")
    return f"""
WITH tt AS (SELECT source, {t} AS t FROM documents),
ss AS (
  SELECT DISTINCT source, sh
  FROM (SELECT source, unnest({_SHINGLES_DUCK.format(t='t')}) AS sh FROM tt)),
sizes AS (SELECT source, COUNT(*) AS n_sh FROM ss GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_inter
  FROM ss a JOIN ss b ON a.sh = b.sh AND a.source < b.source
  GROUP BY 1, 2),
hv AS (
  SELECT source,
         CAST(list_sum(list_transform(generate_series(1, 8),
           j -> CAST(strpos('0123456789abcdef', substring(md5(sh), CAST(j AS INTEGER), 1)) - 1 AS BIGINT)
                << ((8 - CAST(j AS INTEGER)) * 4))) AS BIGINT) % 2147483647 AS h
  FROM ss),
sig AS (
  SELECT source,
         list_transform(generate_series(0, {NUM_HASHES - 1}),
           i -> list_min(list_transform(hs,
             h -> ((2 * i + 1) * h + (1000003 * i + 12345)) % 2147483647))) AS sig
  FROM (SELECT source, list(h) AS hs FROM hv GROUP BY source))
SELECT src_a, src_b, CAST(n_inter AS BIGINT) AS n_inter,
       CAST(za.n_sh + zb.n_sh - n_inter AS BIGINT) AS n_union,
       CAST(n_inter * 1000 // (za.n_sh + zb.n_sh - n_inter) AS BIGINT) AS jacc_milli,
       CAST(list_sum(list_transform(generate_series(1, {NUM_HASHES}),
              i -> CASE WHEN ga.sig[i] = gb.sig[i] THEN 1 ELSE 0 END))
            * 1000 // {NUM_HASHES} AS BIGINT) AS est_milli
FROM inter
JOIN sizes za ON za.source = src_a
JOIN sizes zb ON zb.source = src_b
JOIN sig ga ON ga.source = src_a
JOIN sig gb ON gb.source = src_b
ORDER BY src_a, src_b
"""


_Q67_CAPS = (128, 256, 512, 1024)


def q67_packing_efficiency(spark: SparkSession, sf: str) -> DataFrame:
    """SEQUENCE-LENGTH DECISION TABLE: for each candidate context length,
    the corpus-wide token efficiency of (a) per-document padding (every
    doc padded up to a cap multiple — the naive trainer default) vs (b)
    per-source concat-and-chunk packing (q32's scheme — waste only at
    each source stream's tail). This one table is how a trainer picks
    its sequence length: padded_eff collapses as the cap outgrows the
    median doc, packed_eff stays ~1000 per-mille at every cap.

    Scale shape: the cap dimension fans out MAP-SIDE (a 4-element
    explode — rows ×|caps| before any shuffle, so no re-scan per cap);
    the first groupBy reduces to (cap, source) with map-side combine;
    the second to |caps| rows. All arithmetic is integer ceiling-
    division — partition-invariant and cross-engine exact."""
    d = _t(spark, sf, "documents")
    toks = _TOKS_SPARK.format(c="text")
    caps = ", ".join(str(c) for c in _Q67_CAPS)
    per_src = (
        d.selectExpr(f"source", f"CAST(size({toks}) AS BIGINT) AS n")
        .selectExpr("source", f"explode(array({caps})) AS cap", "n")
        .groupBy("cap", "source")
        .agg(
            F.sum("n").alias("tot_s"),
            F.sum(F.expr("((n + cap - 1) div cap) * cap")).alias("padded_s"),
        )
    )
    return (
        per_src.groupBy("cap")
        .agg(
            F.sum("tot_s").alias("tokens"),
            F.sum("padded_s").alias("padded_total"),
            F.sum(F.expr("((tot_s + cap - 1) div cap) * cap"))
            .alias("packed_total"),
        )
        .selectExpr(
            "CAST(cap AS BIGINT) AS cap", "tokens", "padded_total",
            "packed_total",
            "CAST(tokens * 1000 div padded_total AS BIGINT)"
            " AS padded_eff_milli",
            "CAST(tokens * 1000 div packed_total AS BIGINT)"
            " AS packed_eff_milli",
        )
        .orderBy("cap")
    )


def _sql_q67() -> str:
    t = _TOKS_DUCK.format(c="text")
    caps = ", ".join(str(c) for c in _Q67_CAPS)
    return f"""
WITH e AS (
  SELECT source, cap, CAST(len({t}) AS BIGINT) AS n
  FROM documents CROSS JOIN (SELECT unnest([{caps}]) AS cap)),
per_src AS (
  SELECT cap, source, SUM(n) AS tot_s,
         SUM(((n + cap - 1) // cap) * cap) AS padded_s
  FROM e GROUP BY cap, source)
SELECT CAST(cap AS BIGINT) AS cap, CAST(SUM(tot_s) AS BIGINT) AS tokens,
       CAST(SUM(padded_s) AS BIGINT) AS padded_total,
       CAST(SUM(((tot_s + cap - 1) // cap) * cap) AS BIGINT) AS packed_total,
       CAST(SUM(tot_s) * 1000 // SUM(padded_s) AS BIGINT)
         AS padded_eff_milli,
       CAST(SUM(tot_s) * 1000 // SUM(((tot_s + cap - 1) // cap) * cap)
            AS BIGINT) AS packed_eff_milli
FROM per_src GROUP BY cap ORDER BY cap
"""


def dd17_source_containment(spark: SparkSession, sf: str) -> DataFrame:
    """DIRECTIONAL source containment: |A∩B| / |A| per ORDERED source
    pair (both directions emitted) — dd16's Jaccard says two crawls
    overlap; containment says WHICH one is inside the other (a small
    curated set fully contained in a big crawl has tiny Jaccard but
    containment ~1000 per-mille — the signal that tells a curator to
    drop the subset, not both). Same shape as dd13's per-doc containment
    lifted to corpus level, on dd16's shared stage: the inverted-index
    intersection plus one broadcast size join per direction."""
    _, sizes, inter = _dd16_sets(spark, sf)
    both = inter.selectExpr("src_a", "src_b", "n_inter").union(
        inter.selectExpr("src_b AS src_a", "src_a AS src_b", "n_inter")
    )
    return (
        both
        .join(F.broadcast(sizes.selectExpr("source AS src_a", "n_sh AS na")), "src_a")
        .selectExpr(
            "src_a", "src_b", "CAST(n_inter AS BIGINT) AS n_inter",
            "CAST(na AS BIGINT) AS n_a",
            "CAST(n_inter * 1000 div na AS BIGINT) AS containment_milli",
        )
        .orderBy("src_a", "src_b")
    )


def _sql_dd17() -> str:
    t = _TOKS_DUCK.format(c="text")
    return f"""
WITH tt AS (SELECT source, {t} AS t FROM documents),
ss AS (
  SELECT DISTINCT source, sh
  FROM (SELECT source, unnest({_SHINGLES_DUCK.format(t='t')}) AS sh FROM tt)),
sizes AS (SELECT source, COUNT(*) AS n_sh FROM ss GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_inter
  FROM ss a JOIN ss b ON a.sh = b.sh AND a.source <> b.source
  GROUP BY 1, 2)
SELECT src_a, src_b, CAST(n_inter AS BIGINT) AS n_inter,
       CAST(n_sh AS BIGINT) AS n_a,
       CAST(n_inter * 1000 // n_sh AS BIGINT) AS containment_milli
FROM inter JOIN sizes ON source = src_a
ORDER BY src_a, src_b
"""


# brands here run Brand#1..Brand#25 and quantities 1..50 — branch bounds
# chosen non-degenerate at sf0.001 (97 matching lines)
_Q68_BRANCHES = (
    ("Brand#12", 1, 15, 1.0, 25.0),
    ("Brand#23", 1, 20, 10.0, 35.0),
    ("Brand#3", 1, 25, 20.0, 45.0),
)


def _q68_pred() -> str:
    return " OR ".join(
        f"(p_brand = '{b}' AND p_size BETWEEN {zl} AND {zh}"
        f" AND l_quantity BETWEEN {ql} AND {qh})"
        for b, zl, zh, ql, qh in _Q68_BRANCHES
    )


def q68_disjunctive_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 analog (discounted revenue under a DISJUNCTIVE
    predicate): three OR-branches each constraining BOTH sides of the
    lineitem⋈part join (brand+size on part, quantity on lineitem).

    The lesson is predicate decomposition: the full DNF references both
    tables so it can only apply AT the join — but Catalyst derives the
    single-side residual DNF for EACH side and pushes it into that scan
    (the part scan's PushedFilters carries the Or-of-brand-equalities,
    the lineitem scan the Or-of-quantity-ranges; both asserted in
    tests). At 100 TB that residual pushdown is the
    difference between joining the whole fact table and joining the
    ~thousandth that can possibly match. Part broadcasts; one row out."""
    li = _t(spark, sf, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = _t(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(_q68_pred())
        .agg(
            F.expr(_REV_DMIL).alias("revenue_dmil"),
            F.count("*").alias("n_lines"),
        )
        .selectExpr("revenue_dmil", "CAST(n_lines AS BIGINT) AS n_lines")
    )


def _sql_q68() -> str:
    return f"""
SELECT {_REV_DMIL} AS revenue_dmil, CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE {_q68_pred()}
"""


_Q69_BUDGET = 10_000_000  # training-run token budget for the epoch plan


def q69_epoch_plan(spark: SparkSession, sf: str) -> DataFrame:
    """TOKEN-BUDGET EPOCH PLAN: given a training-run token budget
    (_Q69_BUDGET) and q28's uniform target mix, the per-source repeat
    factor — target tokens per source = budget / |sources|, and
    epochs_milli = how many times (per-mille) each source's corpus must
    repeat to fill its share. The missing last step of the mixing story:
    q28 says WHAT share each domain should get, q30 samples by it, this
    says HOW MANY PASSES over each domain a trainer actually schedules
    (epochs > 1000 per-mille = upsampled domain, < 1000 = subsampled).

    Scale shape: one partial-aggregated groupBy(source) for token
    counts, the 1-row source count re-enters as a broadcast crossJoin —
    all integer division, partition-invariant."""
    d = _t(spark, sf, "documents")
    toks = _TOKS_SPARK.format(c="text")
    per_src = (
        d.selectExpr("source", f"CAST(size({toks}) AS BIGINT) AS n")
        .groupBy("source")
        .agg(F.sum("n").alias("src_tokens"))
    )
    nsrc = per_src.agg(F.count("*").alias("n_sources"))
    return (
        per_src.crossJoin(F.broadcast(nsrc))
        .selectExpr(
            "source", "src_tokens",
            f"CAST({_Q69_BUDGET} div n_sources AS BIGINT) AS target_tokens",
            f"CAST(({_Q69_BUDGET} div n_sources) * 1000 div src_tokens"
            " AS BIGINT) AS epochs_milli",
        )
        .orderBy("source")
    )


def _sql_q69() -> str:
    t = _TOKS_DUCK.format(c="text")
    return f"""
WITH per_src AS (
  SELECT source, CAST(SUM(len({t})) AS BIGINT) AS src_tokens
  FROM documents GROUP BY source),
nsrc AS (SELECT COUNT(*) AS n_sources FROM per_src)
SELECT source, src_tokens,
       CAST({_Q69_BUDGET} // n_sources AS BIGINT) AS target_tokens,
       CAST(({_Q69_BUDGET} // n_sources) * 1000 // src_tokens AS BIGINT)
         AS epochs_milli
FROM per_src CROSS JOIN nsrc
ORDER BY source
"""


def q70_priority_semi(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 analog (order-priority checking): orders from H2-1997
    with AT LEAST ONE late lineitem (shipdate > orderdate + 60 days —
    the q59 lateness convention), counted by priority.

    The textbook form is a correlated EXISTS; Spark-first it is a LEFT
    SEMI join — the probe side carries no payload, duplicates on the
    build side never multiply rows, and the join can short-circuit on
    first match. The semi's build side pre-filters lineitem to the
    candidate orders' key range via the date window pushed to the scan.
    One orderkey-keyed shuffle, then a |priorities|-row groupBy. The
    DuckDB oracle keeps the EXISTS form — two-formulation proof."""
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    late = li.join(
        o.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).filter(
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr(f"INTERVAL {_Q59_LATE_DAYS} DAY")
    ).select("l_orderkey")
    return (
        o.join(late, o.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .selectExpr("o_orderpriority", "CAST(order_count AS BIGINT) AS order_count")
        .orderBy("o_orderpriority")
    )


SQL_Q70 = f"""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-07-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate
                                   + INTERVAL {_Q59_LATE_DAYS} DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q71_local_supplier_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 analog (local supplier volume): revenue where the
    CUSTOMER'S nation equals the SUPPLIER'S nation — the join topology
    that closes a LOOP: lineitem reaches one nation key through
    orders⋈customer and another through supplier, and the query
    predicate equates the two. Unlike q65 (which groups the cross
    product of the two roles), the loop predicate here prunes at join
    time: the supplier join condition includes the nation equality, so
    non-local rows never reach the aggregation.

    Scale shape: supplier and nation broadcast; orders⋈customer shuffles
    on custkey, then the fact join on orderkey; the nation-equality
    rides the supplier broadcast join's condition (an extra conjunct on
    a hash join, not a filter after it). |nations| rows out, 1996
    orders only."""
    n = _t(spark, sf, "nation").select("n_nationkey", "n_name")
    c = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    s = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    oc = o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "c_nationkey")
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(oc, li.l_orderkey == oc.o_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey)
            & (F.col("c_nationkey") == s.s_nationkey),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.expr(_REV_DMIL).alias("revenue_dmil"))
        .orderBy(F.desc("revenue_dmil"), F.asc("n_name"))
    )


SQL_Q71 = f"""
SELECT n_name, {_REV_DMIL} AS revenue_dmil
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue_dmil DESC, n_name ASC
"""


def _q72_flag_exprs() -> list[tuple[str, str]]:
    """(rule_name, SQL boolean) for q20's four quality rules — shared
    verbatim between the Spark and DuckDB formulations of q72."""
    return [
        ("lang", f"lang IN {DOC_KEEP_LANGS!r}"),
        ("mean_word_len",
         f"mean_word_len BETWEEN {TH.MIN_MEAN_WORD_LEN}"
         f" AND {TH.MAX_MEAN_WORD_LEN}"),
        ("stop_frac", f"stop_frac >= {DOC_MIN_STOP_FRAC}"),
        ("tokens", f"n_tokens BETWEEN {DOC_MIN_TOKENS} AND {DOC_MAX_TOKENS}"),
    ]


def q72_rule_ablation(spark: SparkSession, sf: str) -> DataFrame:
    """RULE ABLATION TABLE — the counterfactual a curator actually asks
    of a quality gate: per rule, how many docs fail it, how many fail
    ONLY it, and what the keep count becomes if that one rule is
    dropped (= keep_base + unique failures — docs failing only that
    rule are exactly the ones a drop rescues). Over q20's four rules
    with keep = all four pass. A rule with n_fail >> n_unique_fail is
    redundant with the others; one with large n_unique_fail is load-
    bearing and dropping it moves the corpus most.

    Scale shape: features compute ONCE (the _doc_feats fused tokenize),
    the 17 conditional sums partial-aggregate map-side to a single row,
    and `stack` unpivots that 1-row aggregate to |rules| output rows —
    the corpus is scanned once, nothing keyed shuffles."""
    rules = _q72_flag_exprs()
    f = _doc_feats(spark, sf).selectExpr(
        *[f"CAST({expr} AS INT) AS r_{n}" for n, expr in rules]
    )
    names = [n for n, _ in rules]
    aggs = [F.sum(F.lit(1)).alias("n_docs")]
    all_pass = " * ".join(f"r_{n}" for n in names)
    aggs.append(F.expr(f"SUM({all_pass})").alias("keep_base"))
    for n in names:
        others = " * ".join(f"r_{m}" for m in names if m != n)
        aggs.append(F.expr(f"SUM(1 - r_{n})").alias(f"fail_{n}"))
        aggs.append(
            F.expr(f"SUM((1 - r_{n}) * {others})").alias(f"uniq_{n}")
        )
    stack_args = ", ".join(
        f"'{n}', fail_{n}, uniq_{n}" for n in names
    )
    return (
        f.agg(*aggs)
        .selectExpr(
            "keep_base",
            f"stack({len(names)}, {stack_args})"
            " AS (rule, n_fail, n_unique_fail)",
        )
        .selectExpr(
            "rule", "CAST(n_fail AS BIGINT) AS n_fail",
            "CAST(n_unique_fail AS BIGINT) AS n_unique_fail",
            "CAST(keep_base AS BIGINT) AS keep_base",
            "CAST(keep_base + n_unique_fail AS BIGINT) AS keep_if_dropped",
        )
        .orderBy("rule")
    )


def _sql_q72() -> str:
    rules = _q72_flag_exprs()
    names = [n for n, _ in rules]
    flag_cols = ", ".join(
        f"CAST({expr} AS INT) AS r_{n}" for n, expr in rules
    )
    all_pass = " * ".join(f"r_{n}" for n in names)
    per_rule = []
    for n in names:
        others = " * ".join(f"r_{m}" for m in names if m != n)
        per_rule.append(
            f"SUM(1 - r_{n}) AS fail_{n},"
            f" SUM((1 - r_{n}) * {others}) AS uniq_{n}"
        )
    branches = "\nUNION ALL\n".join(
        f"SELECT '{n}' AS rule, CAST(fail_{n} AS BIGINT) AS n_fail,"
        f" CAST(uniq_{n} AS BIGINT) AS n_unique_fail,"
        f" CAST(keep_base AS BIGINT) AS keep_base,"
        f" CAST(keep_base + uniq_{n} AS BIGINT) AS keep_if_dropped"
        f" FROM a"
        for n in names
    )
    return f"""
WITH f AS ({_DOC_FEATS_SQL}),
fl AS (SELECT {flag_cols} FROM f),
a AS (SELECT SUM({all_pass}) AS keep_base, {', '.join(per_rule)} FROM fl)
{branches}
ORDER BY rule
"""


_G04_K = 2  # k-core degree threshold


def g04_kcore_round(spark: SparkSession, sf: str) -> DataFrame:
    """One K-CORE PEELING round over the mutual-kNN graph: drop nodes
    with degree < K, report each survivor's degree before and after the
    induced-subgraph contraction. The density filter of the graph
    family — g01 scores local closure, g03 assigns communities, this
    strips hubs-of-nothing (embedding-space outliers whose few links
    die with their low-degree neighbors). One round is the oracle-
    checkable unit (the km01/g02 framing); full decomposition iterates
    it, shrinking monotonically.

    Scale shape: degrees are one symmetrized groupBy(node); the
    survivor set re-enters as TWO SEMI joins on the edge endpoints
    (never a collect of the node set); the induced re-count is a second
    groupBy. Everything is keyed on node id over the (small,
    checkpointed) edge list — nothing node-quadratic."""
    e = _sim08_edges(spark, sf)
    sym = e.selectExpr("id_a AS v", "id_b AS w").union(
        e.selectExpr("id_b AS v", "id_a AS w")
    )
    deg0 = sym.groupBy("v").agg(F.count("*").alias("deg0"))
    keep = deg0.filter(F.col("deg0") >= _G04_K).select("v")
    induced = (
        sym.join(keep, "v", "left_semi")
        .join(keep.selectExpr("v AS w"), "w", "left_semi")
    )
    deg1 = induced.groupBy("v").agg(F.count("*").alias("deg1"))
    return (
        deg0.join(keep, "v", "left_semi")
        .join(deg1, "v", "left")
        .selectExpr(
            "v AS vec_id", "CAST(deg0 AS BIGINT) AS deg0",
            "CAST(coalesce(deg1, 0) AS BIGINT) AS deg1",
        )
        .orderBy("vec_id")
    )


def _sql_g04() -> str:
    return f"""
WITH {_sql_sim08_ctes()},
sym AS (
  SELECT id_a AS v, id_b AS w FROM mknn
  UNION ALL SELECT id_b AS v, id_a AS w FROM mknn),
deg0 AS (SELECT v, COUNT(*) AS deg0 FROM sym GROUP BY v),
keep AS (SELECT v FROM deg0 WHERE deg0 >= {_G04_K}),
induced AS (
  SELECT s.v, s.w FROM sym s
  WHERE s.v IN (SELECT v FROM keep) AND s.w IN (SELECT v FROM keep)),
deg1 AS (SELECT v, COUNT(*) AS deg1 FROM induced GROUP BY v)
SELECT d0.v AS vec_id, CAST(d0.deg0 AS BIGINT) AS deg0,
       CAST(COALESCE(d1.deg1, 0) AS BIGINT) AS deg1
FROM deg0 d0 JOIN keep USING (v) LEFT JOIN deg1 d1 ON d1.v = d0.v
ORDER BY vec_id
"""


def dd18_canonical_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """PREFIX-CANONICAL dedup — the leading-boilerplate detector: group
    documents whose first 8 tokens agree after canonicalization
    (lowercase tokenize, digits masked to '0' so dates/counters/ids
    stop splitting groups). Shared intros are how template families
    show up before any similarity machinery runs (the C4 observation
    that boilerplate concentrates at document starts); dd01's whole-
    text hash can't see them. Pure map + one groupBy. Returns groups
    with >1 member: canonical prefix hash, representative (min doc_id),
    group size, and n_raw_groups = distinct FULL texts inside — when
    n_raw_groups > 1 the prefix group spans genuinely different docs,
    i.e. a shared template, not an exact duplicate."""
    d = _t(spark, sf, "documents")
    toks = _TOKS_SPARK.format(c="text")
    canon = (
        f"md5(regexp_replace(concat_ws(' ', slice({toks}, 1, 8)),"
        " '[0-9]+', '0'))"
    )
    return (
        d.selectExpr(
            f"{canon} AS canon_md5",
            "md5(lower(trim(text))) AS raw_md5",
            "doc_id",
        )
        .groupBy("canon_md5")
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count("*").alias("n_docs"),
            F.countDistinct("raw_md5").alias("n_raw_groups"),
        )
        .filter(F.col("n_docs") > 1)
        .selectExpr(
            "canon_md5", "rep_doc_id", "CAST(n_docs AS BIGINT) AS n_docs",
            "CAST(n_raw_groups AS BIGINT) AS n_raw_groups",
        )
        .orderBy("canon_md5")
    )


def _sql_dd18() -> str:
    t = _TOKS_DUCK.format(c="text")
    return f"""
SELECT canon_md5, MIN(doc_id) AS rep_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT raw_md5) AS BIGINT) AS n_raw_groups
FROM (
  SELECT md5(regexp_replace(
           coalesce(array_to_string(({t})[1:8], ' '), ''),
           '[0-9]+', '0', 'g')) AS canon_md5,
         md5(lower(trim(text))) AS raw_md5, doc_id
  FROM documents)
GROUP BY canon_md5 HAVING COUNT(*) > 1
ORDER BY canon_md5
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QueryFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, tuple[QueryFn, str | None]] = {
    "q01_pricing_summary": (q01_pricing_summary, SQL_Q01),
    "q02_revenue_by_nation": (q02_revenue_by_nation, SQL_Q02),
    "q03_topk_orders_per_priority": (q03_topk_orders_per_priority, SQL_Q03),
    "q04_latest_event_per_user": (q04_latest_event_per_user, SQL_Q04),
    "q05_sessionize": (q05_sessionize, SQL_Q05),
    "q06_events_hourly": (q06_events_hourly, SQL_Q06),
    "q07_doc_rule_hits": (q07_doc_rule_hits, SQL_Q07),
    "q08_keep_rate_by_lang": (q08_keep_rate_by_lang, SQL_Q08),
    "q09_langid_vote": (q09_langid_vote, _sql_q09()),
    "q10_token_stats_by_source": (q10_token_stats_by_source, SQL_Q10),
    "q11_top_ngrams": (q11_top_ngrams, SQL_Q11),
    "q12_fingerprints": (q12_fingerprints, SQL_Q12),
    "dd01_exact_groups": (dd01_exact_groups, SQL_DD01),
    "dd02_minhash_lsh_pairs": (dd02_minhash_lsh_pairs, _sql_dd02()),
    "dd06_dup_groups": (dd06_dup_groups, _sql_dd06()),
    "dd07_group_best": (dd07_group_best, _sql_dd07()),
    "dd03_jaccard_pairs": (dd03_jaccard_pairs, _sql_dd03()),
    "dd04_simhash": (dd04_simhash, _sql_dd04()),
    "dd05_embedding_pairs": (dd05_embedding_pairs, _sql_dd05()),
    "sim01_ann_topk": (sim01_ann_topk, SQL_SIM01),
    "sim02_ann_lsh_topk": (sim02_ann_lsh_topk, _sql_sim02()),
    "sim03_ivf_search": (sim03_ivf_search, SQL_SIM03),
    "sim04_batch_knn": (sim04_batch_knn, _sql_sim04()),
    "mm01_media_features": (mm01_media_features, _sql_mm01()),
    "mm02_frame_samples": (mm02_frame_samples, _sql_mm02()),
    "mm03_resize": (mm03_resize, _sql_mm03()),
    "q13_props_json": (q13_props_json, SQL_Q13),
    "q14_rollup_docs": (q14_rollup_docs, SQL_Q14),
    "q15_pivot_events": (q15_pivot_events, SQL_Q15),
    "q16_setops": (q16_setops, SQL_Q16),
    "q17_asof_join": (q17_asof_join, SQL_Q17),
    "q19_ivf_centroids": (q19_ivf_centroids, SQL_Q19),
    "q20_quality_score": (q20_quality_score, SQL_Q20),
    "q21_median_chars_by_source": (q21_median_chars_by_source, SQL_Q21),
    "q21b_median_grouped_udaf": (q21b_median_grouped_udaf, SQL_Q21),
    "q22_rolling_hash": (q22_rolling_hash, _sql_q22()),
    "q23_tfidf_terms": (q23_tfidf_terms, _sql_q23()),
    "q24_bigram_pmi": (q24_bigram_pmi, _sql_q24()),
    "q25_vocab_coverage": (q25_vocab_coverage, _sql_q25()),
    "q26_repeat_collapse": (q26_repeat_collapse, _sql_q26()),
    "q27_contamination": (q27_contamination, _sql_q27()),
    "q28_mixing_weights": (q28_mixing_weights, _sql_q28()),
    "q29_packing_histogram": (q29_packing_histogram, _sql_q29()),
    "q30_weighted_sample": (q30_weighted_sample, _sql_q30()),
    "q31_chunk_windows": (q31_chunk_windows, _sql_q31()),
    "q32_pack_assignments": (q32_pack_assignments, _sql_q32()),
    "dd08_incremental_dedup": (dd08_incremental_dedup, _sql_dd08()),
    "q33_split_assign": (q33_split_assign, _sql_q33()),
    "sim05_ivf_multiprobe": (sim05_ivf_multiprobe, SQL_SIM05),
    "sim06_quantized_topk": (sim06_quantized_topk, SQL_SIM06),
    "q34_bpe_token_stats": (q34_bpe_token_stats, _sql_q34()),
    "dd09_bloom_prefilter": (dd09_bloom_prefilter, _sql_dd09()),
    "q35_salted_source_stats": (q35_salted_source_stats, SQL_Q35),
    "q36_binned_quantiles": (q36_binned_quantiles, SQL_Q36),
    "km01_kmeans_iteration": (km01_kmeans_iteration, SQL_KM01),
    "dc01_distinct_sketch": (dc01_distinct_sketch, _sql_dc01()),
    "q37_bigram_coverage": (q37_bigram_coverage, _sql_q37()),
    "sim07_pq_adc_topk": (sim07_pq_adc_topk, _sql_sim07()),
    "q38_binpack_bfd": (q38_binpack_bfd, _sql_q38()),
    "dd10_span_coverage": (dd10_span_coverage, _sql_dd10()),
    "dd11_line_dedup": (dd11_line_dedup, _sql_dd11()),
    "hh01_cms_heavy_hitters": (hh01_cms_heavy_hitters, _sql_hh01()),
    "dd12_weighted_jaccard": (dd12_weighted_jaccard, _sql_dd12()),
    "q39_bottomk_sample": (q39_bottomk_sample, SQL_Q39),
    "q40_sentence_stats": (q40_sentence_stats, SQL_Q40),
    "dd13_containment": (dd13_containment, _sql_dd13()),
    "q41_bpe_merge_pairs": (q41_bpe_merge_pairs, _sql_q41()),
    "q42_trailing_orders": (q42_trailing_orders, SQL_Q42),
    "dd14_semantic_dedup": (dd14_semantic_dedup, _sql_dd14()),
    "q43_global_rank": (q43_global_rank, SQL_Q43),
    "sim08_mutual_knn": (sim08_mutual_knn, _sql_sim08()),
    "q44_stopword_df": (q44_stopword_df, _sql_q44()),
    "g01_triangle_counts": (g01_triangle_counts, _sql_g01()),
    "g02_pagerank_iteration": (g02_pagerank_iteration, _sql_g02()),
    "dd15_tfidf_pairs": (dd15_tfidf_pairs, _sql_dd15()),
    "q45_salted_join": (q45_salted_join, SQL_Q45),
    "q46_shipping_priority": (q46_shipping_priority, SQL_Q46),
    "q47_large_orders": (q47_large_orders, SQL_Q47),
    "q48_cube_stats": (q48_cube_stats, SQL_Q48),
    "dc02_hll_registers": (dc02_hll_registers, _sql_dc02()),
    "q49_funnel": (q49_funnel, SQL_Q49),
    "q50_retention": (q50_retention, SQL_Q50),
    "q51_bpe_apply_merge": (q51_bpe_apply_merge, _sql_q51()),
    "q52_mincost_supplier": (q52_mincost_supplier, SQL_Q52),
    "q53_excess_shippers": (q53_excess_shippers, SQL_Q53),
    "mm04_patch_grid": (mm04_patch_grid, _sql_mm04()),
    "q54_host_quality_cap": (q54_host_quality_cap, SQL_Q54),
    "q55_unigram_surprisal": (q55_unigram_surprisal, _sql_q55()),
    "q56_bigram_surprisal": (q56_bigram_surprisal, _sql_q56()),
    "g03_label_propagation": (g03_label_propagation, _sql_g03()),
    "q57_source_drift": (q57_source_drift, _sql_q57()),
    "q58_order_count_distribution": (q58_order_count_distribution, SQL_Q58),
    "q59_waiting_suppliers": (q59_waiting_suppliers, SQL_Q59),
    "q60_idle_rich_customers": (q60_idle_rich_customers, SQL_Q60),
    "q61_gopher_repetition": (q61_gopher_repetition, _sql_q61()),
    "q62_event_transitions": (q62_event_transitions, SQL_Q62),
    "q63_bpe_train3": (q63_bpe_train3, _sql_q63()),
    "q64_top_suppliers": (q64_top_suppliers, SQL_Q64),
    "q65_nation_volume": (q65_nation_volume, SQL_Q65),
    "q66_part_supplier_counts": (q66_part_supplier_counts, SQL_Q66),
    "dd16_source_overlap": (dd16_source_overlap, _sql_dd16()),
    "q67_packing_efficiency": (q67_packing_efficiency, _sql_q67()),
    "dd17_source_containment": (dd17_source_containment, _sql_dd17()),
    "q68_disjunctive_revenue": (q68_disjunctive_revenue, _sql_q68()),
    "q69_epoch_plan": (q69_epoch_plan, _sql_q69()),
    "q70_priority_semi": (q70_priority_semi, SQL_Q70),
    "q71_local_supplier_volume": (q71_local_supplier_volume, SQL_Q71),
    "q72_rule_ablation": (q72_rule_ablation, _sql_q72()),
    "g04_kcore_round": (g04_kcore_round, _sql_g04()),
    "dd18_canonical_dedup": (dd18_canonical_dedup, _sql_dd18()),
}

# Evidence-document model: array<struct> cross-evidence detector family
# (SURVEY §1.1/§2.3; rsmetacheck_spark/evidence.py)
from .evidence import registry as _ev_registry  # noqa: E402

REGISTRY.update(_ev_registry())

# Network-validation rule family P008/P011/P015 (three distinct
# accessibility thresholds over mocked statuses; evidence_net.py)
from .evidence_net import registry as _net_registry  # noqa: E402

REGISTRY.update(_net_registry())

# Streaming surface behind the same oracle gate (run-to-completion
# availableNow streams compared against batch SQL; streaming/oracle_rows.py)
from .streaming.oracle_rows import registry as _st_registry  # noqa: E402

REGISTRY.update(_st_registry())

# The driver CORRECTNESS gate samples the first ~50 registry entries in
# insertion order, so the tail never gets a driver row that round.
# Round-5 rotation: front = the round-5 additions (never sampled),
# the ev03-ev07 family (skipped by the r4 cap; ev07 additionally changed
# AFTER its last r3 driver sample — the P013 anchor fix), q32 (its
# oracle changed this round: BIGINT casts), the rest of the r4
# unsampled tail, and dd02/dd03/q27 (recompiled by the round-5 shingle
# zip_with rewrite). Back = 22 triple-driver-green (r2+r3+r4) entries
# whose code is unchanged, so skipping them loses nothing (78 entries
# total; the gate samples the first 50).
_FRONT = [
    # the two entries VERDICT r4 explicitly wants driver rows for: q32
    # (the one red r4 row — its oracle's BIGINT casts landed this round)
    # and ev07 (P013 anchor fix postdates its last driver sample). They
    # lead the window so no amount of new-entry growth can push them out.
    "q32_pack_assignments",
    "ev07_license_rules",
    # round-5e additions (never driver-sampled; newest first)
    "g04_kcore_round",
    "dd18_canonical_dedup",
    "q72_rule_ablation",
    "q70_priority_semi",
    "q71_local_supplier_volume",
    "q68_disjunctive_revenue",
    "q69_epoch_plan",
    "dd17_source_containment",
    "q67_packing_efficiency",
    "st10_stream_decontaminate",
    "q64_top_suppliers",
    "q65_nation_volume",
    "q66_part_supplier_counts",
    "dd16_source_overlap",
    # round-5d additions (never driver-sampled; newest first)
    "q58_order_count_distribution",
    "q59_waiting_suppliers",
    "q60_idle_rich_customers",
    "q61_gopher_repetition",
    "q62_event_transitions",
    "q63_bpe_train3",
    # round-5c additions (never driver-sampled; newest first)
    "q51_bpe_apply_merge",
    "q52_mincost_supplier",
    "q53_excess_shippers",
    "mm04_patch_grid",
    "st09_stream_topk",
    "q54_host_quality_cap",
    "q55_unigram_surprisal",
    "q56_bigram_surprisal",
    "g03_label_propagation",
    "q57_source_drift",
    # round-5b additions (never driver-sampled)
    "q39_bottomk_sample",
    "q40_sentence_stats",
    "dd13_containment",
    "st06_stream_quantiles",
    "q41_bpe_merge_pairs",
    "q42_trailing_orders",
    "st07_stream_distinct",
    "dd14_semantic_dedup",
    "q43_global_rank",
    "st08_stream_stream_join",
    "sim08_mutual_knn",
    "q44_stopword_df",
    "g01_triangle_counts",
    "g02_pagerank_iteration",
    "dd15_tfidf_pairs",
    "q45_salted_join",
    "q46_shipping_priority",
    "q47_large_orders",
    "q48_cube_stats",
    "dc02_hll_registers",
    "q49_funnel",
    "q50_retention",
    # recompiled this session by the _dd05_unit/_km01_assigned refactors —
    # same outputs (locally re-MATCHed), but they need fresh driver rows
    "dd05_embedding_pairs",
    "dd11_line_dedup",
    "hh01_cms_heavy_hitters",
    "dd12_weighted_jaccard",
    "st05_stream_cms",
    # consumes the refactored dd02 candidate stage (and the round-5
    # shingle rewrite through it) — needs a fresh driver row
    "dd06_dup_groups",
    "q38_binpack_bfd",
    "dd10_span_coverage",
    "sim06_quantized_topk",
    "dd09_bloom_prefilter",
    "q35_salted_source_stats",
    "q36_binned_quantiles",
    "km01_kmeans_iteration",
    "dc01_distinct_sketch",
    "q37_bigram_coverage",
    "sim07_pq_adc_topk",
    # shingle-builder rewrite (round-5 zip_with perf fix) recompiles
    # these three plans — same outputs, but they need fresh driver rows;
    # ranked ABOVE the never-changed r4-unsampled block: with 94 entries
    # the 50-cap can't cover everything, and changed-code rows matter
    # more than re-confirming code that was driver-green in r2/r3
    "dd02_minhash_lsh_pairs",
    "dd03_jaccard_pairs",
    "q27_contamination",
    "ev03_author_rules",
    "ev04_date_rules",
    "ev05_identifier_rules",
    "ev06_url_class_rules",
    # r4-unsampled, code unchanged since their r2/r3 driver greens — the
    # tail of this list is the part the 50-cap may cut
    "q01_pricing_summary",
    "q02_revenue_by_nation",
    "q03_topk_orders_per_priority",
    "q04_latest_event_per_user",
    "q05_sessionize",
    "q06_events_hourly",
    "q10_token_stats_by_source",
    "q11_top_ngrams",
    "q12_fingerprints",
    "dd01_exact_groups",
]
_BACK = [
    "dd04_simhash",
    "ev01_version_rules",
    "ev02_repo_url_rules",
    "mm01_media_features",
    "q13_props_json",
    "q14_rollup_docs",
    "q15_pivot_events",
    "q16_setops",
    "q17_asof_join",
    "q19_ivf_centroids",
    "q20_quality_score",
    "q21_median_chars_by_source",
    "q21b_median_grouped_udaf",
    "q22_rolling_hash",
    "q23_tfidf_terms",
    "q24_bigram_pmi",
    "q25_vocab_coverage",
    "q26_repeat_collapse",
    "sim01_ann_topk",
    "sim02_ann_lsh_topk",
]
REGISTRY = {
    **{k: REGISTRY[k] for k in _FRONT},
    **{k: v for k, v in REGISTRY.items() if k not in _FRONT and k not in _BACK},
    **{k: REGISTRY[k] for k in _BACK},
}
