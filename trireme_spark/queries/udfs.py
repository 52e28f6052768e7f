"""UDF / UDAF / UDTF surface — SURVEY.md §2.10 (x1–x5).

UDFs are the slow path by design (SURVEY.md §4): everything that CAN be a
built-in is elsewhere in this engine; these keys exist to prove the Python
extension surface itself. x2–x4 are Arrow-vectorized (pandas batches cross
the JVM↔Python boundary columnar, ~10–100× over row-at-a-time); x1 is the
deliberate row-at-a-time counter-example; x5 is a Python UDTF.

Determinism note: the pandas aggregations use ``math.fsum``/order-stable
formulas and round coarsely enough that cross-engine float drift (≤1e-8 on
~1e4-magnitude ratios) cannot straddle a rounding boundary.
"""

from __future__ import annotations

import math
from typing import Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType
from pyspark.sql.window import Window

from trireme_spark.registry import register
from trireme_spark.sources.io import table

_X1_ORACLE = """
SELECT o_orderkey, CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS prio
FROM orders
"""


def _leading_digit(s: str) -> int:
    return int(s[0])


@register("udf_python", oracle=_X1_ORACLE)
def udf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x1 — row-scalar Python UDF ('1-URGENT' → 1). Row-at-a-time pickling;
    kept off every hot path — see x2 for the vectorized form. The function
    lives at module level so it pickles by reference: a worker imports the
    package to run it, which installs the zipimport shim there."""
    prio = F.udf(_leading_digit, IntegerType())
    o = table(spark, sf_dir, "orders")
    return o.select("o_orderkey", prio("o_orderpriority").alias("prio"))


_X2_ORACLE = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS net_price
FROM lineitem
"""


@register("udf_pandas_scalar", oracle=_X2_ORACLE)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x2 — vectorized scalar pandas UDF (Arrow batches; numpy does the
    same IEEE per-row ops as the JVM, so results match exactly)."""

    @F.pandas_udf("double")
    def net_price(price: pd.Series, disc: pd.Series) -> pd.Series:
        return price * (1.0 - disc)

    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        net_price("l_extendedprice", "l_discount").alias("net_price"),
    )


_X3_ORACLE = """
SELECT l_returnflag,
       ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 4)
           AS weighted_avg_price
FROM lineitem GROUP BY l_returnflag
"""


@register("udaf_pandas_agg", oracle=_X3_ORACLE)
def udaf_pandas_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x3 — grouped-agg pandas UDF: quantity-weighted mean price.

    ``math.fsum`` makes the Python-side sums order-independent (correctly
    rounded), so the partition-order nondeterminism of the incoming batch
    can't leak into the result."""

    @F.pandas_udf("double")
    def wmean(price: pd.Series, qty: pd.Series) -> float:
        den = math.fsum(qty)
        return math.fsum(price * qty) / den if den else float("nan")

    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(wmean("l_extendedprice", "l_quantity"), 4).alias(
            "weighted_avg_price"
        )
    )


_X4_ORACLE = """
SELECT event_id, user_id,
       ROUND((value - AVG(value) OVER (PARTITION BY user_id))
             / STDDEV_SAMP(value) OVER (PARTITION BY user_id), 6) AS zscore
FROM events
"""


@register("udtf_grouped_map", oracle=_X4_ORACLE)
def udtf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x4 — applyInPandas per-group transform: z-score of value per user.

    Scale caveat (by design, documented): applyInPandas materializes one
    group per Python worker call — fine for bounded per-user history, and
    the reason heavy normalization elsewhere in the engine uses window
    algebra instead."""

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        sd = v.std(ddof=1)
        pdf = pdf[["event_id", "user_id"]].copy()
        z = ((v - v.mean()) / sd).round(6)
        # NaN (single-row group: std(ddof=1) is NaN; constant group: 0/0)
        # must surface as SQL NULL — the oracle's STDDEV_SAMP/division
        # yields NULL there, and the driver's repr-hash tells nan from None.
        pdf["zscore"] = z.astype(object).where(z.notna(), None)
        return pdf

    ev = table(spark, sf_dir, "events")
    return (
        ev.select("event_id", "user_id", "value")
        .groupBy("user_id")
        .applyInPandas(zscore, "event_id long, user_id long, zscore double")
    )


_X5_ORACLE = """
WITH d AS (
    SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
)
SELECT doc_id,
       CAST(UNNEST(range(len(toks))) AS INTEGER) AS pos,
       UNNEST(toks) AS token
FROM d
"""


@register("udtf_python", oracle=_X5_ORACLE)
def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x5 — Python UDTF: one row per token with its position (the oracle
    zips DuckDB's dual UNNEST — WITH ORDINALITY is unimplemented there)."""

    @F.udtf(returnType="doc_id bigint, pos int, token string")
    class Tokenize:
        def eval(self, doc_id: int, text: str):
            for pos, token in enumerate(text.lower().split(" ")):
                yield doc_id, pos, token

    spark.udtf.register("trireme_tokenize", Tokenize)
    table(spark, sf_dir, "documents").createOrReplaceTempView(
        "trireme_docs_x5"
    )
    return spark.sql(
        "SELECT t.* FROM trireme_docs_x5, "
        "LATERAL trireme_tokenize(doc_id, text) t"
    )


_X6_ORACLE = """
WITH e AS (
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY user_id
), o AS (
    SELECT o_custkey AS user_id, COUNT(*) AS n_orders
    FROM orders WHERE o_custkey <= 150 GROUP BY o_custkey
)
SELECT COALESCE(e.user_id, o.user_id) AS user_id,
       COALESCE(e.n_events, 0) AS n_events,
       COALESCE(e.sum_value, 0.0) AS sum_value,
       COALESCE(o.n_orders, 0) AS n_orders
FROM e FULL OUTER JOIN o ON e.user_id = o.user_id
"""


@register("udtf_cogrouped_map", oracle=_X6_ORACLE)
def udtf_cogrouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x6 — cogroup().applyInPandas: align two tables by key and merge each
    key's groups in one Python call — the API for custom per-key merge
    logic (as-of matching, interleaving, reconciliation) that neither join
    nor single-table grouping expresses.

    Scale: both sides shuffle once on the key; each call sees one key's
    rows from each side. Sums go through the decimal bridge inside pandas
    (sorted before summation) so the result is order-independent and
    hash-matches the oracle."""
    from decimal import Decimal

    def merge(events_pdf: pd.DataFrame, orders_pdf: pd.DataFrame) -> pd.DataFrame:
        uid = (
            events_pdf["user_id"].iloc[0]
            if len(events_pdf)
            else orders_pdf["user_id"].iloc[0]
        )
        total = float(
            sum(
                sorted(
                    Decimal(repr(v)).quantize(Decimal("0.000001"))
                    for v in events_pdf["value"]
                )
            )
        ) if len(events_pdf) else 0.0
        return pd.DataFrame(
            {
                "user_id": [uid],
                "n_events": [len(events_pdf)],
                "sum_value": [total],
                "n_orders": [len(orders_pdf)],
            }
        )

    ev = table(spark, sf_dir, "events").select("user_id", "value")
    od = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_custkey") <= 150)
        .select(F.col("o_custkey").alias("user_id"))
    )
    return (
        ev.groupBy("user_id")
        .cogroup(od.groupBy("user_id"))
        .applyInPandas(
            merge,
            "user_id long, n_events long, sum_value double, n_orders long",
        )
    )


_XA_ORACLE = """
SELECT l_orderkey, l_linenumber,
       ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS charge
FROM lineitem WHERE l_quantity > 10
"""


@register("udf_arrow_map", oracle=_XA_ORACLE)
def udf_arrow_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow partition transform — the zero-copy tier of the Python
    surface: RecordBatches cross the JVM↔Python boundary with no pandas
    materialization (vs mapInPandas), which matters when the batch is
    wide or binary-heavy. The batch math is pyarrow.compute (SIMD
    kernels); the final ROUND happens JVM-side at 6 decimals — BELOW the product's
    true decimal precision (2dp × 2dp × 2dp = exactly 6dp), so no value
    ever sits on a rounding boundary. At 4dp the exact halves are real
    and Spark (shortest-repr BigDecimal, half-up) and DuckDB (scaled
    multiply) disagree — observed on the fixtures."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def charge_batches(batches):
        for b in batches:
            keep = b.filter(pc.greater(b.column("l_quantity"), 10.0))
            charge = pc.multiply(
                pc.multiply(
                    keep.column("l_extendedprice"),
                    pc.subtract(1.0, keep.column("l_discount")),
                ),
                pc.add(1.0, keep.column("l_tax")),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    keep.column("l_orderkey"),
                    keep.column("l_linenumber"),
                    charge,
                ],
                names=["l_orderkey", "l_linenumber", "charge_raw"],
            )

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax",
    )
    out = li.mapInArrow(
        charge_batches,
        "l_orderkey long, l_linenumber int, charge_raw double",
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.round("charge_raw", 6).alias("charge"),
    )


_XI_ORACLE = """
SELECT o_orderkey,
       FLOOR(o_totalprice * (1.0 - 0.04 * (o_orderkey % 5)) * 1e4) / 1e4
           AS adjusted
FROM orders
"""


@register("udf_pandas_iter", oracle=_XI_ORACLE)
def udf_pandas_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-form pandas UDF (Iterator[batches] → Iterator[batches])
    — THE Python-UDF shape for model inference at scale: expensive
    state (a model checkpoint, a tokenizer, an ONNX session) loads ONCE
    per task inside the generator prologue, then every Arrow batch
    streams through the resident state. The scalar form (x2) would
    amortize nothing; a per-row UDF would pay per row.

    Here the "model" is a 5-entry discount table built in the prologue
    (deterministic, so the oracle mirrors it as arithmetic); real
    pipelines swap exactly that line for torch.load / ort.InferenceSession.
    Results floor-quantize to 1e-4 so the numpy-vs-JVM double products
    can't straddle a print boundary. Executor memory stays bounded:
    batches stream through the generator one at a time (backpressure is
    Arrow's reader loop), nothing accumulates per task."""
    import numpy as np

    @F.pandas_udf("double")
    def adjust(
        batches: Iterator[Tuple[pd.Series, pd.Series]]
    ) -> Iterator[pd.Series]:
        # one-time per-task init — the model-load slot
        model = np.array([1.0 - 0.04 * k for k in range(5)])
        for key, price in batches:
            yield pd.Series(
                np.floor(
                    price.to_numpy() * model[(key.to_numpy() % 5)] * 1e4
                ) / 1e4
            )

    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        adjust("o_orderkey", "o_totalprice").alias("adjusted"),
    )


_XP_ORACLE = """
SELECT doc_id,
       string_split(source, '-')[1] AS f0,
       string_split(source, '-')[2] AS f1
FROM documents
"""


@register("udtf_polymorphic", oracle=_XP_ORACLE)
def udtf_polymorphic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF (Spark 4): the output SCHEMA is computed
    at plan time by a static ``analyze()`` from the call's literal
    arguments — here a delimited-field splitter whose column count
    derives from the requested width, the shape generic ingest tools
    need (one UDTF serves any column layout without per-layout
    registration).

    analyze() runs ONCE on the driver during analysis (plan-time
    metadata, zero data motion); eval() then streams executor-side
    rows against the already-fixed schema, so the polymorphism costs
    nothing at runtime. The oracle mirrors the two-field split in
    SQL; missing fields pad NULL, same rule both engines."""
    from pyspark.sql.functions import AnalyzeArgument, AnalyzeResult
    from pyspark.sql.types import StringType, StructType

    @F.udtf
    class SplitFields:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument):
            width = n.value  # literal arg → plan-time constant
            schema = StructType()
            for i in range(width):
                schema = schema.add(f"f{i}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text: str, n: int):
            parts = (text or "").split("-")
            yield tuple(
                parts[i] if i < len(parts) else None for i in range(n)
            )

    spark.udtf.register("trireme_split_fields", SplitFields)
    table(spark, sf_dir, "documents").createOrReplaceTempView(
        "trireme_docs_xp"
    )
    return spark.sql(
        "SELECT doc_id, t.* FROM trireme_docs_xp, "
        "LATERAL trireme_split_fields(source, 2) t"
    )


# ---------------------------------------------------------------------------
# udf_python_arrow — arrow-optimized scalar Python UDF (Spark 3.5+)
# ---------------------------------------------------------------------------

_ARROW_UDF_ORACLE = """
SELECT o_orderkey,
       CAST(substr(o_orderpriority, 1, 1) AS INTEGER)
         * CASE WHEN o_orderstatus = 'F' THEN -1 ELSE 1 END AS signed_prio
FROM orders
"""


@register("udf_python_arrow", oracle=_ARROW_UDF_ORACLE)
def udf_python_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-OPTIMIZED scalar Python UDF (``useArrow=True``, Spark
    3.5+): the same per-row lambda API as x1, but serialized over Arrow
    batches instead of pickled rows — the migration path for legacy
    row UDFs that can't be rewritten as pandas UDFs (x2) because their
    logic is genuinely scalar Python. Same author surface, ~an order
    of magnitude less serialization overhead; semantics pinned
    value-exact against the SQL mirror.

    Still Python-per-row inside the batch (kept off hot paths — the
    x1 doctrine); the fully-vectorized tier remains x2/x3."""
    signed = F.udf(
        lambda prio, status: int(prio[0]) * (-1 if status == "F" else 1),
        IntegerType(),
        useArrow=True,
    )
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        signed("o_orderpriority", "o_orderstatus").alias("signed_prio"),
    )


# ---------------------------------------------------------------------------
# udtf_table_argument — UDTF over TABLE(...) PARTITION BY / ORDER BY
# ---------------------------------------------------------------------------

_TBLARG_ORACLE = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - epoch_us(LAG(ts) OVER (
           PARTITION BY user_id ORDER BY ts, event_id)) AS gap
  FROM events
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COALESCE(MAX(gap), 0) AS BIGINT) AS max_gap_us
FROM g GROUP BY user_id
"""


@register("udtf_table_argument", oracle=_TBLARG_ORACLE)
def udtf_table_argument(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x8 — Python UDTF consuming a TABLE ARGUMENT with ``PARTITION BY
    user_id ORDER BY (ts, event_id)`` (Spark 4): the engine shuffles
    and sorts the INPUT TABLE, instantiates the class once per
    partition key, streams rows through ``eval`` and collects
    ``terminate`` — imperative per-key stream processing as a SQL table
    function, the third grouped-custom-logic tier beside x4
    (applyInPandas) and t6 (stateful streaming). Here: per-user event
    count and maximum inter-event gap, a sequential fold with O(1)
    state.

    The gap uses exact integer timedelta fields (days/seconds/micros)
    — float ``total_seconds()`` would round 2.6e12 µs magnitudes.
    Value-checked against the lag-window SQL, proving the engine's
    partition/order contract (a missed sort would scramble gaps).

    Scale: one keyed shuffle+sort planned by the engine; state is one
    (count, prev_ts, max) triple per in-flight key — never a
    materialized group."""
    from pyspark.sql.types import Row

    @F.udtf(returnType="user_id long, n_events long, max_gap_us long")
    class UserGaps:
        def __init__(self):
            self.uid = None
            self.n = 0
            self.prev = None
            self.maxgap = 0

        def eval(self, row: Row):
            self.uid = row["user_id"]
            self.n += 1
            t = row["ts"]
            if self.prev is not None:
                d = t - self.prev
                g = (
                    d.days * 86_400_000_000
                    + d.seconds * 1_000_000
                    + d.microseconds
                )
                if g > self.maxgap:
                    self.maxgap = g
            self.prev = t

        def terminate(self):
            if self.uid is not None:
                yield (self.uid, self.n, self.maxgap)

    table(spark, sf_dir, "events").createOrReplaceTempView(
        "trireme_ev_tblarg"
    )
    spark.udtf.register("trireme_user_gaps", UserGaps)
    return spark.sql(
        "SELECT * FROM trireme_user_gaps(TABLE(trireme_ev_tblarg) "
        "PARTITION BY user_id ORDER BY (ts, event_id))"
    )


# ---------------------------------------------------------------------------
# udf_sql_registered — Python UDF callable FROM SQL (spark.udf.register)
# ---------------------------------------------------------------------------

_SQLUDF_ORACLE = """
SELECT o_orderkey,
       CAST(substr(o_orderpriority, 1, 1) AS INTEGER) * 10
         + CASE o_orderstatus WHEN 'O' THEN 1 WHEN 'F' THEN 2 ELSE 3 END
         AS prio_code
FROM orders WHERE o_totalprice > 100000
"""


@register("udf_sql_registered", oracle=_SQLUDF_ORACLE)
def udf_sql_registered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x9 — a Python UDF REGISTERED INTO THE SQL NAMESPACE
    (``spark.udf.register``) and invoked from a plain SQL string: the
    bridge that lets SQL-only consumers (BI tools, templated reports,
    the reference's query front end) call Python extension logic
    without touching the DataFrame API. Same execution tier as x1
    (row pickling — keep off hot paths); the POINT is the namespace
    surface, and that predicates AROUND the UDF still push to the scan
    (the filter is a plain conjunct Catalyst separates from the
    opaque UDF projection)."""
    from pyspark.sql.types import IntegerType

    def prio_code(prio: str, status: str) -> int:
        return int(prio[0]) * 10 + {"O": 1, "F": 2}.get(status, 3)

    spark.udf.register("trireme_prio_code", prio_code, IntegerType())
    table(spark, sf_dir, "orders").createOrReplaceTempView(
        "trireme_orders_sqludf"
    )
    return spark.sql(
        """
        SELECT o_orderkey,
               trireme_prio_code(o_orderpriority, o_orderstatus)
                 AS prio_code
        FROM trireme_orders_sqludf WHERE o_totalprice > 100000
        """
    )


# ---------------------------------------------------------------------------
# udtf_polymorphic_table — analyze() over a TABLE argument's schema
# ---------------------------------------------------------------------------

_POLYTBL_ORACLE = """
SELECT o_orderkey, o_orderstatus, o_orderdate, o_orderpriority
FROM orders
"""


@register("udtf_polymorphic_table", oracle=_POLYTBL_ORACLE)
def udtf_polymorphic_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x10 — the two Spark-4 UDTF features COMPOSED: ``analyze()``
    receives a TABLE argument's StructType plus a literal, and derives
    the output schema from the INPUT SCHEMA (here: pass through every
    column whose name matches the literal prefix) — the shape of
    schema-generic ingest tooling (column-subset extractors, PII
    strippers, type-driven routers) that must work on ANY table
    without per-table registration. udtf_polymorphic derives schema
    from literals only; udtf_table_argument consumes a table with a
    FIXED schema; this key needs both at once.

    eval() re-derives the same name list from the literal (the
    analyze/eval contract shares only the call's arguments — there is
    deliberately no side channel), so NULL cells can't perturb the
    arity. Plan-time polymorphism, executor-side streaming, zero
    runtime cost."""
    from pyspark.sql.functions import AnalyzeArgument, AnalyzeResult
    from pyspark.sql.types import Row, StructType

    @F.udtf
    class PrefixSelect:
        @staticmethod
        def analyze(t: AnalyzeArgument, prefix: AnalyzeArgument):
            schema = StructType()
            for f in t.dataType.fields:
                if f.name.startswith(prefix.value):
                    schema = schema.add(f.name, f.dataType)
            return AnalyzeResult(schema=schema)

        def eval(self, row: Row, prefix: str):
            d = row.asDict()
            yield tuple(v for k, v in d.items() if k.startswith(prefix))

    spark.udtf.register("trireme_prefix_select", PrefixSelect)
    table(spark, sf_dir, "orders").createOrReplaceTempView(
        "trireme_orders_polytbl"
    )
    return spark.sql(
        "SELECT * FROM trireme_prefix_select("
        "TABLE(trireme_orders_polytbl), 'o_order')"
    )


# ---------------------------------------------------------------------------
# udaf_pandas_window — pandas UDAF evaluated OVER a window frame
# ---------------------------------------------------------------------------

_PWIN_ORACLE = """
SELECT o_custkey, o_orderkey,
       ROUND(AVG(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS rolling_avg
FROM orders
"""


@register("udaf_pandas_window", oracle=_PWIN_ORACLE)
def udaf_pandas_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x11 — a PANDAS aggregate UDF evaluated OVER A WINDOW FRAME (x3
    runs pandas UDAFs in groupBy; this is the windowed evaluation
    path): Spark materializes each row's bounded frame as a pandas
    Series and calls the UDAF per frame — the API that lets custom
    aggregations (trimmed means, downside deviation, anything numpy)
    ride ordinary window specs. The UDAF here is a plain mean so the
    SQL AVG oracle pins the frame semantics exactly (ROWS 2 PRECEDING
    — tie order fixed by the date+key sort).

    Scale/cost honesty: bounded-frame pandas UDAFs re-materialize the
    frame per row (O(frame) per row Arrow transfer) — fine for small
    frames, and the reason built-in window aggs (incremental JVM
    state) stay the default; this key exists for the CUSTOM cases
    builtins can't express."""
    from pyspark.sql.functions import pandas_udf

    def frame_mean(v) -> float:
        return float(v.mean())

    frame_mean.__annotations__ = {"v": pd.Series, "return": float}
    fm = pandas_udf(frame_mean, "double")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 0)
    )
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(fm(F.col("o_totalprice")).over(w), 6).alias("rolling_avg"),
    )


# ---------------------------------------------------------------------------
# udtf_arrow_grouped — grouped-map directly on Arrow tables (Spark 4)
# ---------------------------------------------------------------------------

_ARROW_GRP_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(27,6)))
                  AS DOUBLE) / COUNT(*), 6) AS mean_value,
       ROUND(MAX(value) - MIN(value), 6) AS value_range
FROM events GROUP BY event_type
"""


@register("udtf_arrow_grouped", oracle=_ARROW_GRP_ORACLE)
def udtf_arrow_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDF on RAW Arrow tables (``applyInArrow``, Spark 4)
    — the zero-copy sibling of x4's applyInPandas: the group arrives as
    a ``pyarrow.Table`` and the pandas conversion layer (with its
    dtype coercions and per-batch DataFrame construction cost) is
    skipped entirely. The right surface when the Python side is
    numpy/Arrow-compute anyway — measured wins come exactly from the
    conversion it doesn't do.

    The group body computes count / exact-decimal mean / range with
    Arrow compute kernels; the oracle is the plain SQL aggregate, so
    the check proves the Arrow path changes the transport, not the
    values. Decimal quantization happens on the Python side (6dp
    round before summing as integers) mirroring the oracle's decimal
    sum.

    Scale design: one keyed shuffle; per-group state is the Arrow
    record batch; output is one row per group. (For plain aggregates a
    real pipeline uses built-in aggs — this key pins the API surface
    for bodies that genuinely need custom Python over columnar
    buffers.)"""
    import pyarrow as pa
    import pyarrow.compute as pc

    ev = table(spark, sf_dir, "events").select("event_type", "value")

    def stats(t: pa.Table) -> pa.Table:
        v = t.column("value")
        n = len(t)
        # 6dp-quantized integer sum == the oracle's DECIMAL(27,6) sum
        q = pc.round(pc.multiply(v, pa.scalar(1e6)), 0)
        total = pc.sum(q).as_py() or 0
        mean = round(total / 1e6 / n, 6)
        rng = round(
            pc.max(v).as_py() - pc.min(v).as_py(), 6
        )
        return pa.table(
            {
                "event_type": pa.array(
                    [t.column("event_type")[0].as_py()], pa.string()
                ),
                "n": pa.array([n], pa.int64()),
                "mean_value": pa.array([mean], pa.float64()),
                "value_range": pa.array([rng], pa.float64()),
            }
        )

    return ev.groupBy("event_type").applyInArrow(
        stats,
        "event_type string, n long, mean_value double, value_range double",
    )
