"""Extended coverage: cube, streaming, constructed dedup, hyperplane
LSH, salted agg, as-of/range joins, scalar families."""
from __future__ import annotations

from slow_tortoise_spark.queries._shared import (
    Callable,
    F,
    _DSUM,
    _dsum,
    _t,
    read_table,
)
from slow_tortoise_spark.queries.training import (
    _hyperplanes,
)

# ---------------------------------------------------------------------------
# Extended coverage: cube, streaming, constructed dedup, hyperplane LSH,
# multimodal plumbing parity
# ---------------------------------------------------------------------------


def q_cube_agg(spark, sf_dir):
    """CUBE grouping sets over (returnflag, linestatus) with exact sums."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(_dsum(F.col("l_quantity")).alias("sum_qty"),
             F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "sum_qty",
            "n",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q_CUBE_AGG = f"""
  SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
         COALESCE(l_linestatus, 'ALL') AS l_linestatus,
         {_DSUM.format(x='l_quantity')} AS sum_qty,
         COUNT(*) AS n
  FROM lineitem
  GROUP BY CUBE (l_returnflag, l_linestatus)
  ORDER BY 1, 2
"""


def _events_ts_encoding(events_path: str) -> str:
    """How ``ts`` is stored, from one footer probe (directories probe
    their first part file): ``"nanos"`` = INT64 TIMESTAMP(NANOS) (needs
    the nanosAsLong flag + DIV re-typing), ``"int96"`` = legacy INT96
    (Spark's default ``outputTimestampType`` — decodes as TimestampType
    directly, and is what OUR OWN re-staged copies of the table carry),
    ``"micros_ntz"`` = INT64 micro-precision NTZ (the driver
    generator's other historical encoding)."""
    from slow_tortoise_spark.sources.reader import (
        _nanos_timestamp_columns,
        _probe_parquet_file,
    )

    if "ts" in _nanos_timestamp_columns(events_path):
        return "nanos"
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        f = pq.read_schema(_probe_parquet_file(events_path)).field("ts")
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            return "int96"
    except Exception:
        pass
    return "micros_ntz"


def _stream_events(spark, sf_dir):
    """Encoding- and layout-aware streaming source for the ``events``
    table.

    The test generator has emitted ``ts`` both as parquet
    TIMESTAMP(NANOS) and as plain micro-precision NTZ across rounds,
    and any re-staged copy (cluster writers, the layout sweep) arrives
    as a DIRECTORY of INT96 part files.  Probe the footer once on the
    driver (the same probe the batch reader uses,
    ``sources/reader.py``) and pick the decode, so ``event_time``
    carries identical values under every encoding.  Layout: a
    directory streams directly; the single-file testdata layout scopes
    the ``sf_dir`` scan with ``pathGlobFilter`` (the file stream
    source wants a directory) — no symlinks, no filesystem
    side-effects.
    """
    import os

    from pyspark.sql import types as T

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events_path = os.path.join(sf_dir, "events.parquet")
    enc = _events_ts_encoding(events_path)
    ts_type = {
        "nanos": T.LongType(),
        "int96": T.TimestampType(),
        "micros_ntz": T.TimestampNTZType(),
    }[enc]
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    if enc == "nanos":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        event_time = F.timestamp_micros(F.expr("ts DIV 1000"))
    elif enc == "int96":
        # Already TimestampType micros under the UTC session pin.
        event_time = F.col("ts")
    else:
        # Session tz is UTC above, so NTZ → TimestampType is value-identity
        # on the underlying micros (matches read_table's normalization).
        event_time = F.col("ts").cast("timestamp")
    reader = spark.readStream.schema(schema)
    if os.path.isdir(events_path):
        src = reader.parquet(events_path)
    else:
        src = reader.option("pathGlobFilter", "events.parquet").parquet(
            sf_dir
        )
    return src.withColumn("event_time", event_time)


def q_streaming_window_counts(spark, sf_dir):
    """Structured Streaming: hourly windowed agg over the events stream
    (availableNow drain; equals the batch grouping on complete input)."""
    from slow_tortoise_spark.streaming.pipeline import (
        run_to_memory,
        windowed_temporal_agg,
    )

    sdf = _stream_events(spark, sf_dir).select(
        "event_time",
        F.col("event_type").alias("feature"),
        "value",
    )
    out = run_to_memory(
        windowed_temporal_agg(sdf, window="1 hour"),
        f"win_counts_{abs(hash(sf_dir)) % 10**6}",
        spark,
        output_mode="complete",
    )
    return out.select(
        F.unix_millis("window_start").alias("window_start"),
        "feature",
        F.round("t_sum", 4).alias("t_sum"),
        "t_count",
    ).orderBy("window_start", "feature")


_Q_STREAMING_WINDOW_COUNTS = """
  SELECT epoch_ms(ts) - epoch_ms(ts) % 3600000 AS window_start,
         event_type AS feature,
         round(SUM(value), 4) AS t_sum,
         COUNT(value) AS t_count
  FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_dedup_exact_docs(spark, sf_dir):
    """Exact dedup over a corpus with constructed duplicates (documents
    unioned with an id-shifted copy): every text forms a dup group."""
    from slow_tortoise_spark.operators.dedup import exact_duplicates

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    groups = exact_duplicates(docs.unionByName(dup))
    return groups.select(
        "fingerprint",
        "keep_doc_id",
        "dup_count",
        F.array_join(F.transform("doc_ids", lambda x: x.cast("string")), ",").alias(
            "doc_ids"
        ),
    ).orderBy("keep_doc_id")


_Q_DEDUP_EXACT_DOCS = """
  WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text FROM documents
  )
  SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint,
         MIN(doc_id) AS keep_doc_id,
         COUNT(*) AS dup_count,
         string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
  FROM corpus
  GROUP BY 1 HAVING COUNT(*) >= 2
  ORDER BY keep_doc_id
"""


def q_hyperplane_lsh_buckets(spark, sf_dir):
    """Random-hyperplane LSH: 4 sign bits → 16 buckets per embedding.

    The other classic ANN scale path next to IVF: same-bucket vectors are
    near-duplicate candidates; buckets are portable (plane literals are
    shared with the oracle verbatim).
    """
    from slow_tortoise_spark.operators.similarity import dot_col

    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    bucket = F.lit(0)
    for i, plane in enumerate(_hyperplanes()):
        p = F.array(*[F.lit(x) for x in plane])
        bucket = bucket + F.when(dot_col(v, p) > 0, F.lit(2**i)).otherwise(F.lit(0))
    return (
        emb.select("vec_id", bucket.alias("bucket"))
        .orderBy("vec_id")
    )


def _hyperplane_sql() -> str:
    planes = _hyperplanes()
    rows = []
    for i, plane in enumerate(planes):
        vals = ", ".join(
            f"({j + 1}, {x!r})" for j, x in enumerate(plane)
        )
        rows.append(f"SELECT {i} AS plane, i, x FROM (VALUES {vals}) t(i, x)")
    planes_sql = " UNION ALL ".join(rows)
    return f"""
      WITH planes AS ({planes_sql}),
      v AS (
        SELECT vec_id, unnest(embedding)::DOUBLE AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
      ),
      dots AS (
        SELECT v.vec_id, p.plane, SUM(v.x * p.x) AS dot
        FROM v JOIN planes p ON v.i = p.i
        GROUP BY 1, 2
      )
      SELECT vec_id,
             CAST(SUM(CASE WHEN dot > 0 THEN CAST(pow(2, plane) AS INT)
                           ELSE 0 END) AS INT) AS bucket
      FROM dots GROUP BY vec_id ORDER BY vec_id
    """


def q_media_features(spark, sf_dir):
    """Multimodal plumbing: binary content through the Arrow-batched
    mapInPandas extractor (deterministic stub), verified end-to-end."""
    from slow_tortoise_spark.operators.multimodal import extract_image_features

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("content"),
    )
    feats = extract_image_features(media)
    return feats.select("media_id", "n_bytes", "sha").orderBy("media_id")


_Q_MEDIA_FEATURES = """
  SELECT doc_id AS media_id,
         octet_length(encode(text)) AS n_bytes,
         substr(sha256(text), 1, 16) AS sha
  FROM documents ORDER BY media_id
"""


def q_salted_agg(spark, sf_dir):
    """Skew path: two-phase salted aggregation; results equal the direct
    groupBy (oracle), the shuffle shape spreads hot keys over 16 tasks."""
    from slow_tortoise_spark.operators.skew import salted_aggregation

    ev = _t(spark, sf_dir, "events")
    # decimal-cast value so the two-phase sum is order-independent
    base = ev.select(
        "event_type", F.col("value").cast("decimal(25,6)").alias("v")
    )
    out = salted_aggregation(
        base,
        keys=["event_type"],
        aggs={
            "total": ("sum", "v"),
            "n": ("count", "v"),
            "vmin": ("min", "v"),
            "vmax": ("max", "v"),
        },
        salt_buckets=16,
    )
    return out.select(
        "event_type",
        F.col("total").cast("double").alias("total"),
        "n",
        F.col("vmin").cast("double").alias("vmin"),
        F.col("vmax").cast("double").alias("vmax"),
    ).orderBy("event_type")


_Q_SALTED_AGG = f"""
  SELECT event_type,
         {_DSUM.format(x='value')} AS total,
         COUNT(value) AS n,
         CAST(MIN(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS vmin,
         CAST(MAX(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS vmax
  FROM events GROUP BY event_type ORDER BY event_type
"""


def q_weighted_timeseries(spark, sf_dir):
    """A3+A5 weighted-chain semantics with engine-portable arithmetic.

    Same two-level contract as the library operators — t_wavg =
    Σvw/Σw with the carried weight w̄ = avg(w), then s_wavg_t_X =
    Σ(t_X·w̄)/Σw̄ — but every SUM runs over DECIMAL so Spark's
    partition-parallel accumulation equals DuckDB's sequential one
    bit-for-bit, and every division happens in IEEE double on identical
    inputs.  A float-summed version is 1-ulp flaky at round()
    half-boundaries (money data lands exactly on .xxxx5 — observed at
    sf0.001).  The library operators' own A3/A5 contract is pinned by
    ``weighted_agg`` (oracle), the weighted pipeline e2e golden, and
    ``tests/test_temporal_spatial.py``.
    """
    li = _t(spark, sf_dir, "lineitem")

    def dec6(c):
        return c.cast("decimal(25,6)")

    def dec10(c):
        return c.cast("decimal(25,10)")

    cube = li.select(
        # l_shipdate is TIMESTAMP_NTZ; cast → LTZ is identity under the
        # UTC session timezone and unix_millis/date_trunc require it.
        F.unix_millis(
            F.date_trunc("month", F.col("l_shipdate").cast("timestamp"))
        ).alias("timestamp"),
        F.concat(F.lit("s"), (F.col("l_suppkey") % 5).cast("string")).alias("country"),
        F.col("l_returnflag").alias("feature"),
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").alias("w"),
    )
    t = (
        cube.groupBy("feature", "country", "timestamp")
        .agg(
            F.sum(dec6(F.col("v"))).alias("t_sum_dec"),
            F.count("*").alias("n"),
            F.sum(dec6(F.col("v") * F.col("w"))).alias("vw_dec"),
            F.sum(dec6(F.col("w"))).alias("w_dec"),
        )
        .select(
            "feature",
            "timestamp",
            F.col("t_sum_dec").cast("double").alias("t_sum"),
            (F.col("t_sum_dec").cast("double") / F.col("n")).alias("t_mean"),
            (F.col("vw_dec").cast("double") / F.col("w_dec").cast("double")).alias(
                "t_wavg"
            ),
            (F.col("w_dec").cast("double") / F.col("n")).alias("wbar"),
        )
    )
    def r4(c):
        # floor(x·10⁴ + 0.5)/10⁴ instead of round(): both engines execute
        # the identical IEEE double ops on identical inputs, so results
        # are bit-equal even when the true value sits exactly on a .xxxx5
        # boundary (where Spark's exact-decimal HALF_UP and DuckDB's
        # float-multiply round() disagree by 1 ulp).
        return F.floor(c * 10000 + F.lit(0.5)) / 10000.0

    def r2(c):
        return F.floor(c * 100 + F.lit(0.5)) / 100.0

    return (
        t.groupBy("feature", "timestamp")
        .agg(
            r2(F.sum(dec6(F.col("t_sum"))).cast("double")).alias("s_sum_t_sum"),
            r4(
                F.sum(dec10(F.col("t_mean"))).cast("double") / F.count("*")
            ).alias("s_mean_t_mean"),
            r4(F.sum(dec10(F.col("t_wavg"))).cast("double")).alias(
                "s_sum_t_wavg"
            ),
            r4(
                F.sum(dec6(F.col("t_sum") * F.col("wbar"))).cast("double")
                / F.sum(dec10(F.col("wbar"))).cast("double")
            ).alias("s_wavg_t_sum"),
            r4(
                F.sum(dec6(F.col("t_wavg") * F.col("wbar"))).cast("double")
                / F.sum(dec10(F.col("wbar"))).cast("double")
            ).alias("s_wavg_t_wavg"),
            F.count("*").alias("s_count"),
        )
        .orderBy("feature", "timestamp")
    )


_Q_WEIGHTED_TIMESERIES = """
  WITH cube AS (
    SELECT epoch_ms(date_trunc('month', l_shipdate)) AS timestamp,
           's' || CAST(l_suppkey % 5 AS VARCHAR) AS country,
           l_returnflag AS feature,
           l_extendedprice AS v,
           l_quantity AS w
    FROM lineitem
  ),
  t AS (
    SELECT feature, country, timestamp,
           SUM(CAST(v AS DECIMAL(25,6))) AS t_sum_dec,
           COUNT(*) AS n,
           SUM(CAST(v * w AS DECIMAL(25,6))) AS vw_dec,
           SUM(CAST(w AS DECIMAL(25,6))) AS w_dec
    FROM cube GROUP BY 1, 2, 3
  ),
  t2 AS (
    SELECT feature, timestamp,
           CAST(t_sum_dec AS DOUBLE) AS t_sum,
           CAST(t_sum_dec AS DOUBLE) / n AS t_mean,
           CAST(vw_dec AS DOUBLE) / CAST(w_dec AS DOUBLE) AS t_wavg,
           CAST(w_dec AS DOUBLE) / n AS wbar
    FROM t
  )
  SELECT feature, timestamp,
         floor(CAST(SUM(CAST(t_sum AS DECIMAL(25,6))) AS DOUBLE)
               * 100 + 0.5) / 100.0 AS s_sum_t_sum,
         floor(CAST(SUM(CAST(t_mean AS DECIMAL(25,10))) AS DOUBLE)
               / COUNT(*) * 10000 + 0.5) / 10000.0 AS s_mean_t_mean,
         floor(CAST(SUM(CAST(t_wavg AS DECIMAL(25,10))) AS DOUBLE)
               * 10000 + 0.5) / 10000.0 AS s_sum_t_wavg,
         floor(CAST(SUM(CAST(t_sum * wbar AS DECIMAL(25,6))) AS DOUBLE)
               / CAST(SUM(CAST(wbar AS DECIMAL(25,10))) AS DOUBLE)
               * 10000 + 0.5) / 10000.0 AS s_wavg_t_sum,
         floor(CAST(SUM(CAST(t_wavg * wbar AS DECIMAL(25,6))) AS DOUBLE)
               / CAST(SUM(CAST(wbar AS DECIMAL(25,10))) AS DOUBLE)
               * 10000 + 0.5) / 10000.0 AS s_wavg_t_wavg,
         COUNT(*) AS s_count
  FROM t2 GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_asof_join(spark, sf_dir):
    """As-of join: each purchase event gets the user's most recent click
    at or before it (union+window carry-forward, one shuffle)."""
    from slow_tortoise_spark.operators.timejoin import asof_join

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "user_id", "event_type", "value",
        F.unix_micros("ts").alias("t_us"),
    )
    purchases = base.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "t_us"
    )
    clicks = base.filter(F.col("event_type") == "click").select(
        "user_id", "value", "t_us"
    )
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_time="t_us",
        right_time="t_us",
        value_cols=["value"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.round("right_value", 4).alias("click_value"),
        F.col("right_time_ms").alias("click_t_us"),
    ).orderBy("event_id")


_Q_ASOF_JOIN = """
  SELECT p.event_id, p.user_id,
         round(c.value, 4) AS click_value,
         c.t_us AS click_t_us
  FROM events p
  LEFT JOIN LATERAL (
    SELECT value, epoch_us(ts) AS t_us
    FROM events c
    WHERE c.user_id = p.user_id AND c.event_type = 'click'
      AND c.ts <= p.ts
    ORDER BY c.ts DESC LIMIT 1
  ) c ON true
  WHERE p.event_type = 'purchase'
  ORDER BY p.event_id
"""


def q_range_join(spark, sf_dir):
    """Range join (bucketed equi-join + residual): purchases within one
    hour after each signup."""
    from slow_tortoise_spark.operators.timejoin import range_join

    ev = _t(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.unix_millis("ts").alias("signup_ms"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.unix_millis("ts").alias("purchase_ms"),
    )
    joined = range_join(
        signups,
        purchases,
        left_time=F.col("signup_ms"),
        right_time=F.col("purchase_ms"),
        lower_ms=0,
        upper_ms=3_600_000,
        bucket_ms=3_600_000,
    )
    return (
        joined.groupBy("signup_id")
        .agg(F.count("*").alias("n_purchases"))
        .orderBy("signup_id")
    )


_Q_RANGE_JOIN = """
  SELECT s.event_id AS signup_id, COUNT(*) AS n_purchases
  FROM events s
  JOIN events p
    ON p.event_type = 'purchase'
   AND epoch_ms(p.ts) - epoch_ms(s.ts) BETWEEN 0 AND 3600000
  WHERE s.event_type = 'signup'
  GROUP BY 1 ORDER BY 1
"""


def q_rolling_window(spark, sf_dir):
    """Per-user trailing-1h rolling count + sum (range frame)."""
    from slow_tortoise_spark.operators.timejoin import rolling_time_agg

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "user_id", "value", F.unix_millis("ts").alias("t_ms")
    )
    out = rolling_time_agg(base, key="user_id", time_col="t_ms",
                           value_col="value", window_ms=3_600_000)
    return out.select(
        "event_id", "user_id", "rolling_n",
        F.round("rolling_sum", 4).alias("rolling_sum"),
    ).orderBy("event_id")


_Q_ROLLING_WINDOW = """
  SELECT event_id, user_id,
         COUNT(value) OVER w AS rolling_n,
         round(SUM(value) OVER w, 4) AS rolling_sum
  FROM (SELECT event_id, user_id, value, epoch_ms(ts) AS t_ms FROM events)
  WINDOW w AS (PARTITION BY user_id ORDER BY t_ms
               RANGE BETWEEN 3599999 PRECEDING AND CURRENT ROW)
  ORDER BY event_id
"""


def q_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (median, p90) per return flag."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"),
            F.round(F.expr("percentile(l_quantity, 0.9)"), 6).alias("p90_qty"),
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias(
                "median_price"
            ),
        )
        .orderBy("l_returnflag")
    )


_Q_PERCENTILES = """
  SELECT l_returnflag,
         round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
         round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
         round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price
  FROM lineitem GROUP BY 1 ORDER BY 1
"""


def q_approx_distinct(spark, sf_dir):
    """Approximate distinct counts (HLL) with an in-query accuracy gate.

    HLL sketch values are engine-specific, so the raw estimate never
    crosses the oracle boundary; instead the query returns the exact
    count plus ``approx_ok`` = 1 iff the sketch (rsd 0.02) landed within
    5% of it.  The oracle expects exactly (exact count, 1) — a failed
    accuracy contract is a hash mismatch, which turns the former
    rows-only check into a real one.
    """
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("_approx"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            )
            .cast("int")
            .alias("approx_ok"),
        )
        .orderBy("event_type")
    )


_Q_APPROX_DISTINCT = """
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, 1 AS approx_ok
  FROM events GROUP BY event_type ORDER BY event_type
"""


def q_json_extract(spark, sf_dir):
    """JSON scalar functions over the props column."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").try_cast("long").alias("k_num"),
        F.get_json_object("props", "$.missing").alias("missing"),
    ).orderBy("event_id")


_Q_JSON_EXTRACT = """
  SELECT event_id,
         json_extract_string(props, '$.k') AS k_str,
         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
         json_extract_string(props, '$.missing') AS missing
  FROM events ORDER BY event_id
"""


def q_date_parts(spark, sf_dir):
    """Calendar part extraction + date arithmetic on order dates."""
    orders = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return (
        orders.groupBy(
            F.year(d).alias("y"),
            F.quarter(d).alias("q"),
            F.month(d).alias("m"),
        )
        .agg(
            F.count("*").alias("n"),
            F.min(F.dayofmonth(d)).alias("first_dom"),
            F.max(F.dayofmonth(d)).alias("last_dom"),
        )
        .orderBy("y", "q", "m")
    )


_Q_DATE_PARTS = """
  SELECT year(o_orderdate) AS y, quarter(o_orderdate) AS q,
         month(o_orderdate) AS m,
         COUNT(*) AS n,
         MIN(day(o_orderdate)) AS first_dom,
         MAX(day(o_orderdate)) AS last_dom
  FROM orders GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def q_string_funcs(spark, sf_dir):
    """String scalar surface: case, substring, pad, replace, edit
    distance against a fixed probe."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.regexp_replace("p_type", " ", "_").alias("type_snake"),
        F.levenshtein(F.lower("p_brand"), F.lit("brand#00")).alias("brand_dist"),
    ).orderBy("p_partkey")


_Q_STRING_FUNCS = """
  SELECT p_partkey,
         upper(p_brand) AS brand_upper,
         substr(p_name, 1, 8) AS name_prefix,
         lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
         regexp_replace(p_type, ' ', '_', 'g') AS type_snake,
         levenshtein(lower(p_brand), 'brand#00') AS brand_dist
  FROM part ORDER BY p_partkey
"""


def q_dedup_drop(spark, sf_dir):
    """drop_exact_duplicates over a corpus with constructed duplicates:
    survivors are the min-doc_id representative of each text group."""
    from slow_tortoise_spark.operators.dedup import drop_exact_duplicates

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    kept = drop_exact_duplicates(docs.unionByName(dup))
    return kept.select("doc_id", F.length("text").alias("n_chars")).orderBy(
        "doc_id"
    )


_Q_DEDUP_DROP = """
  WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text FROM documents
  ),
  ranked AS (
    SELECT doc_id, text,
           ROW_NUMBER() OVER (
             PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
             ORDER BY doc_id) AS rn
    FROM corpus
  )
  SELECT doc_id, length(text) AS n_chars FROM ranked WHERE rn = 1
  ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Catalog entries, merged by catalog.py: name -> (Spark callable, oracle SQL)
# ---------------------------------------------------------------------------

ENTRIES: dict[str, tuple[Callable, str]] = {
    "cube_agg": (q_cube_agg, _Q_CUBE_AGG),
    "streaming_window_counts": (q_streaming_window_counts, _Q_STREAMING_WINDOW_COUNTS),
    "dedup_exact_docs": (q_dedup_exact_docs, _Q_DEDUP_EXACT_DOCS),
    "hyperplane_lsh_buckets": (q_hyperplane_lsh_buckets, _hyperplane_sql()),
    "media_features": (q_media_features, _Q_MEDIA_FEATURES),
    "salted_agg": (q_salted_agg, _Q_SALTED_AGG),
    "weighted_timeseries": (q_weighted_timeseries, _Q_WEIGHTED_TIMESERIES),
    "asof_join": (q_asof_join, _Q_ASOF_JOIN),
    "range_join": (q_range_join, _Q_RANGE_JOIN),
    "rolling_window": (q_rolling_window, _Q_ROLLING_WINDOW),
    "percentiles": (q_percentiles, _Q_PERCENTILES),
    "approx_distinct": (q_approx_distinct, _Q_APPROX_DISTINCT),
    "json_extract": (q_json_extract, _Q_JSON_EXTRACT),
    "date_parts": (q_date_parts, _Q_DATE_PARTS),
    "string_funcs": (q_string_funcs, _Q_STRING_FUNCS),
    "dedup_drop": (q_dedup_drop, _Q_DEDUP_DROP),
}
