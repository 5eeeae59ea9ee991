"""Relational operator families over the TPC-H-ish test tables.

One query per operator family from SURVEY.md §2, written as the native
DataFrame plan we'd want at 100 TB (broadcast dims, map-side partial
aggregation, window top-1 instead of sorts) with semantics portable to
the DuckDB oracle.

Cross-engine determinism rules used throughout:

* money sums go through ``decimal(18,4)`` so both engines aggregate
  exactly, then cast to double once at the end (double sums differ
  bitwise across engines/partitionings);
* no raw arrays in oracle-checked outputs (engines stringify arrays
  differently) — counts + exploded rows instead;
* every computed column is aliased identically in the SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dsum(col):
    """Exact cross-engine sum: decimal-aggregate, double out."""
    return F.sum(col.cast("decimal(18,4)")).cast("double")


# G10/G11/O5 family: grouped aggregation with banded counts ---------------

def pricing_summary(spark, sf_dir) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


BAND_HI = 75
BAND_MID = 50


def _band_flags(v):
    """Shared hi/mid/lo indicator expressions — value_banding and its
    salted twin must band identically by construction."""
    return (F.when(v >= BAND_HI, 1).otherwise(0),
            F.when((v >= BAND_MID) & (v < BAND_HI), 1).otherwise(0),
            F.when(v < BAND_MID, 1).otherwise(0))


def value_banding(spark, sf_dir) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    v = F.col("value")
    hi, mid, lo = _band_flags(v)
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(hi).alias("n_high"),
            F.sum(mid).alias("n_mid"),
            F.sum(lo).alias("n_low"),
            _dsum(v).alias("sum_value"),
        )
        .orderBy("event_type")
    )


# J6 family: top-1 per group via window -----------------------------------

def latest_event_per_user(spark, sf_dir) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


# J1/J2 family: broadcast contains-join, first match in scan order --------

SEARCH_TERMS = ("hash join", "window", "vector", "stream", "group",
                "partition")


def first_doc_containing(spark, sf_dir) -> DataFrame:
    """For each search term, the first document (lowest doc_id) whose
    text contains it — the field-matcher join pattern (J1) in
    miniature: tiny broadcast side, contains theta-predicate,
    row_number()=1 for the deterministic first match."""
    docs = load(spark, sf_dir, "documents")
    terms = spark.createDataFrame(
        [(t,) for t in SEARCH_TERMS], "term string")
    # Lower once per document in a projection below the nested-loop
    # join — otherwise the join condition recomputes lower(text) once
    # per (doc, term) pair, 6x the work on the hot column.
    lowered = docs.select(
        "doc_id", "source", F.lower(F.col("text")).alias("ltext"))
    joined = lowered.join(
        F.broadcast(terms), F.contains(F.col("ltext"), F.col("term")))
    # min(struct(doc_id, ...)) == first match in doc_id order, with
    # map-side partial aggregation: each partition reduces its matches
    # to one row per term before the shuffle, instead of shuffling the
    # full match set through a window sort.
    first = joined.groupBy("term").agg(
        F.min(F.struct(F.col("doc_id"), F.col("source"))).alias("m"))
    return first.select(
        "term", F.col("m.doc_id").cast("bigint").alias("doc_id"),
        F.col("m.source").alias("source"))


# O1 family: order / limit / offset ---------------------------------------

def recent_orders_page(spark, sf_dir) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = Window.orderBy(F.desc("o_orderdate"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .where((F.col("rank") > 10) & (F.col("rank") <= 30))
        .select(F.col("rank").cast("int"), "o_orderkey", "o_orderdate",
                "o_totalprice")
    )


# O3 family: set difference (missing members per group) --------------------

def missing_event_types(spark, sf_dir) -> DataFrame:
    """(user, event_type) pairs the user never emitted — the
    missing_fields anti-join, exploded to rows so the comparison is
    array-free."""
    ev = load(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    types = ev.select("event_type").distinct()
    return (
        users.crossJoin(F.broadcast(types))
        .join(ev.select("user_id", "event_type").distinct(),
              ["user_id", "event_type"], "left_anti")
        .select("user_id", F.col("event_type").alias("missing_type"))
    )


# P12 family: currency cleaning ---------------------------------------------

def clean_currency_col(spark, sf_dir) -> DataFrame:
    """Dirty €-amount strings (integer-derived, so both engines build
    byte-identical inputs) → cleaned double via the reference's rule:
    strip €/spaces, ',' → '.', keep digits and dots, cast."""
    orders = load(spark, sf_dir, "orders")
    euros = F.col("o_orderkey").cast("bigint")
    cents = (F.col("o_custkey") % 100).cast("bigint")
    dirty = F.when(
        F.col("o_orderkey") % 3 == 0,
        # German style with trailing symbol and space: "1234,56 €"
        F.concat(euros.cast("string"), F.lit(","),
                 F.lpad(cents.cast("string"), 2, "0"), F.lit(" €")),
    ).otherwise(
        F.concat(F.lit("€"), euros.cast("string"), F.lit("."),
                 F.lpad(cents.cast("string"), 2, "0")),
    )
    stripped = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(dirty, "€", ""), " ", ""),
        ",", ".")
    cleaned = F.regexp_replace(stripped, r"[^0-9.]", "")
    return (
        orders.select(
            "o_orderkey",
            dirty.alias("dirty"),
            F.when(cleaned == "", None)
             .otherwise(cleaned.try_cast("double")).alias("amount"))
        .where(F.col("o_orderkey") % 5 != 0)
    )


# P11/P20 family: date format validation -------------------------------------

def validate_dates(spark, sf_dir) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    ddmmyyyy = F.date_format(F.col("o_orderdate"), "dd.MM.yyyy")
    iso = F.date_format(F.col("o_orderdate"), "yyyy-MM-dd")
    raw = F.when(F.col("o_orderkey") % 7 == 0, iso).otherwise(ddmmyyyy)
    ok = raw.rlike(r"^\d{2}\.\d{2}\.\d{4}$")
    return orders.select(
        "o_orderkey",
        raw.alias("raw_date"),
        ok.alias("is_valid"),
        F.when(ok, raw).alias("clean_date"),
    )


# P17/P18/P19 family: German numbers + range validation -----------------------

def validate_german_numbers(spark, sf_dir) -> DataFrame:
    """German-formatted quantity strings → normalize → range-check
    5..45, with the reference's error strings (array-free: count +
    first error)."""
    li = load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("bigint")
    german = F.concat(qty.cast("string"), F.lit(","),
                      F.lpad((F.col("l_partkey") % 100).cast("string"),
                             2, "0"))
    norm = F.regexp_replace(F.regexp_replace(german, r"\.", ""), ",", ".")
    as_num = norm.try_cast("double")
    min_err = F.when(as_num < 5, "Value must be at least 5")
    max_err = F.when(as_num > 45, "Value must be at most 45")
    first_error = F.coalesce(min_err, max_err)
    return (
        li.where(F.col("l_linenumber") == 1)
        .select(
            "l_orderkey",
            german.alias("raw_value"),
            as_num.alias("value_num"),
            first_error.isNull().alias("is_valid"),
            (F.when(min_err.isNotNull(), 1).otherwise(0)
             + F.when(max_err.isNotNull(), 1).otherwise(0))
            .cast("int").alias("n_errors"),
            first_error.alias("first_error"),
        )
    )


# P3 family: Python-rstrip label cleaning --------------------------------------

def clean_labels(spark, sf_dir) -> DataFrame:
    """Replicates Python ``rstrip(':')`` then ``rstrip('?')`` then
    strip — a run of ':' stripped first, then a run of '?'."""
    part = load(spark, sf_dir, "part")
    suffix = (F.col("p_partkey") % 4)
    dirty = F.concat(
        F.col("p_name"),
        F.when(suffix == 0, ":").when(suffix == 1, "?::")
         .when(suffix == 2, "::??").otherwise(""))
    cleaned = F.trim(F.regexp_replace(
        F.regexp_replace(dirty, ":+$", ""), r"\?+$", ""))
    return part.select("p_partkey", dirty.alias("dirty_label"),
                       cleaned.alias("clean_label"))


# Sessionization: gap-based event sessions (window-function family) ------------

SESSION_GAP_MIN = 30


def sessionize_events(spark, sf_dir) -> DataFrame:
    """Gap-based sessionization: a new session starts when a user's
    inter-event gap exceeds 30 minutes. Classic lag + conditional
    cumulative-sum pattern — one shuffle on user_id, both window
    functions share the same partitioning. Emits per-session summaries.
    """
    ev = load(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet timestamps load as TIMESTAMP_NTZ; cast via timestamp
    # (session tz pinned to UTC) to get epoch seconds
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap_s = epoch - F.lag(epoch).over(order)
    new_session = F.when(
        gap_s.isNull() | (gap_s > SESSION_GAP_MIN * 60), 1).otherwise(0)
    with_idx = (
        ev.withColumn("new_s", new_session)
        .withColumn("session_idx",
                    F.sum("new_s").over(
                        order.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return (
        with_idx.groupBy("user_id", "session_idx")
        .agg(F.count("*").alias("n_events"),
             F.min("ts").alias("t_start"),
             F.max("ts").alias("t_end"),
             _dsum(F.col("value")).alias("sum_value"))
        .select("user_id", F.col("session_idx").cast("int"),
                "n_events", "t_start", "t_end", "sum_value")
    )


# P16 family: fenced/commented JSON extraction ----------------------------------

def parse_json_props(spark, sf_dir) -> DataFrame:
    """The reference's LLM-response JSON parse (strip ``` fences, strip
    // comments, parse) as column expressions — applied to events.props
    wrapped in the same dirt the LLM emitted
    (``src/llm/field_extractor.py:53-87``)."""
    ev = load(spark, sf_dir, "events")
    dirty = F.when(
        F.col("event_id") % 3 == 0,
        F.concat(F.lit("```json\n"), F.col("props"),
                 F.lit(" // trailing note\n```")),
    ).otherwise(F.col("props"))
    # strip the first code fence, then line comments
    unfenced = F.regexp_replace(
        dirty, r"(?s)^```[^\n]*\n(.*?)\n?```.*$", "$1")
    uncommented = F.regexp_replace(unfenced, r"//[^\n]*", "")
    parsed = F.from_json(uncommented, "k INT")
    return ev.where(F.col("event_id") % 5 != 0).select(
        "event_id",
        dirty.alias("raw_props"),
        F.trim(uncommented).alias("clean_json"),
        parsed["k"].alias("k_value"),
    )


# J5 family: star-schema join + rollup -----------------------------------------

def revenue_by_region_year(spark, sf_dir) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return (
        orders
        # customer scales with SF (~15M rows at sf100, far more at the
        # 10^12 design point): never force-broadcast it. Plain
        # equi-join — AQE still picks a broadcast at small SF, and the
        # shuffle join survives when customer outgrows executor memory.
        # nation (25) / region (5) are fixed-size dims: broadcast.
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation),
              customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region),
              nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"),
                 F.year("o_orderdate").alias("order_year"))
        .agg(F.count("*").alias("n_orders"),
             _dsum(F.col("o_totalprice")).alias("revenue"))
        .orderBy("region", "order_year")
    )


# Explicit skew handling: salted two-phase aggregation -------------------

N_AGG_SALTS = 16


def value_banding_salted(spark, sf_dir) -> DataFrame:
    """``value_banding`` computed via an explicit two-phase salted
    aggregation: rows get a salt from xxhash64(event_id), phase 1
    aggregates per (key, salt) — at most ``N_AGG_SALTS`` rows per hot
    key per partition cross the first shuffle — and phase 2 folds the
    salt away.

    Honesty note: for algebraic aggregates Spark's hash aggregate
    already does map-side partial combine, so a plain groupBy does
    not bottleneck on hot keys. The explicit decomposition is the
    pattern for the cases partial aggregation cannot save — per-key
    exact distinct counts, collect-type aggregates, or a downstream
    consumer that needs the salted partials — and this query proves
    the decomposition is value-identical (same oracle as
    ``value_banding``). Salting the JOIN side is handled separately
    (AQE skew-join + the kernel's salted repartition).
    """
    ev = load(spark, sf_dir, "events")
    v = F.col("value")
    hi, mid, lo = _band_flags(v)
    salt = F.pmod(F.xxhash64(F.col("event_id")), F.lit(N_AGG_SALTS))
    partial = (
        ev.withColumn("_salt", salt)
        .groupBy("event_type", "_salt")
        .agg(
            F.count("*").alias("c"),
            F.sum(hi).alias("h"),
            F.sum(mid).alias("m"),
            F.sum(lo).alias("l"),
            F.sum(v.cast("decimal(18,4)")).alias("s"),
        )
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("c").alias("n_events"),
            F.sum("h").alias("n_high"),
            F.sum("m").alias("n_mid"),
            F.sum("l").alias("n_low"),
            F.sum("s").cast("double").alias("sum_value"),
        )
        .orderBy("event_type")
    )


# PII scrubbing (training-data redaction family) -------------------------

PII_EMAIL_RE = r"(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE_RE = r"\+[0-9][0-9 /-]{7,}[0-9]"   # international form only
PII_IP_RE = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"


def pii_scrub(spark, sf_dir) -> DataFrame:
    """PII redaction — the C4-style scrub a web corpus gets before
    training: emails, international-format phone numbers and IPv4
    addresses are replaced by typed placeholders, with per-type match
    counts for the filtering sidecar.

    Dirty strings are integer-derived (same construction in the
    oracle, like ``clean_currency``) so both engines scrub identical
    inputs. Patterns are RE2-safe (no backrefs/lookarounds) so Java
    and RE2 engines agree; the phone pattern requires a leading '+'
    — bare long digit runs (ids, keys) are NOT redacted by design.
    Scrub order is email → phone → ip in both engines (placeholders
    contain no digits, so later passes cannot re-match them).
    """
    cust = load(spark, sf_dir, "customer")
    k = F.col("c_custkey").cast("bigint")
    # every 5th address is mixed-case: exercises the (?i) flag — a
    # lowercase-only pattern would silently let these through
    email = F.concat(
        F.when(k % 5 == 0, F.lit("User")).otherwise(F.lit("user")),
        k.cast("string"),
        F.when(k % 5 == 0, F.lit("@Mail.Example"))
         .otherwise(F.lit("@mail.example")))
    phone = F.concat(F.lit("+49 30 "),
                     F.lpad((k % 10000).cast("string"), 4, "0"))
    ip = F.concat(F.lit("10.0."), F.col("c_nationkey").cast("string"),
                  F.lit("."), (k % 200).cast("string"))
    dirty = F.concat(
        F.col("c_name"), F.lit(" reach "), email,
        F.when(k % 3 == 0, F.concat(F.lit(" or call "), phone))
         .otherwise(F.lit("")),
        F.when(k % 2 == 0, F.concat(F.lit(" from "), ip))
         .otherwise(F.lit("")),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(dirty, PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE, "<PHONE>"),
        PII_IP_RE, "<IP>")
    return cust.select(
        "c_custkey",
        dirty.alias("dirty"),
        scrubbed.alias("scrubbed"),
        F.size(F.regexp_extract_all(dirty, F.lit(PII_EMAIL_RE),
                                    F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(dirty, F.lit(PII_PHONE_RE),
                                    F.lit(0))).alias("n_phones"),
        F.size(F.regexp_extract_all(dirty, F.lit(PII_IP_RE),
                                    F.lit(0))).alias("n_ips"),
    )


# As-of join (nearest prior event) ---------------------------------------

def asof_join_events(spark, sf_dir, left_type: str = "click",
                     right_type: str = "purchase") -> DataFrame:
    """As-of join: each ``left_type`` event gets the most recent
    ``right_type`` event at-or-before its timestamp for the same user
    (NULLs when none) — the feature-pipeline primitive Spark lacks as
    a built-in.

    Spark-first shape: NOT a range join (a theta-join on
    ``b.ts <= a.ts`` explodes into a per-user cross product and, on
    most plans, a broadcast nested loop). Instead both streams union
    with a side tag and ONE window per user carries the last non-null
    right-side struct forward — a single shuffle on user_id, linear
    work, the same plan at 10^12 rows. Tie rule (deterministic, and
    replicated in the oracle): at equal ``ts`` the right side sorts
    first — an equal-timestamp event counts as "prior" — and among
    equal-ts right events the highest event_id wins. DuckDB's native
    ``ASOF JOIN`` computes the same relation modulo that tie rule;
    the oracle uses the identical window formulation so ties compare
    exactly.
    """
    ev = load(spark, sf_dir, "events")
    tagged = ev.where(
        F.col("event_type").isin(left_type, right_type)
    ).select(
        "event_id", "user_id", "ts", "value",
        (F.col("event_type") == left_type).cast("int").alias("side"),
    )
    right_struct = F.when(
        F.col("side") == 0,
        F.struct(F.col("event_id").alias("event_id"),
                 F.col("ts").alias("ts"),
                 F.col("value").alias("value")))
    w = (Window.partitionBy("user_id")
         .orderBy("ts", "side", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    carried = tagged.withColumn(
        "m", F.last(right_struct, ignorenulls=True).over(w))
    return (
        carried.where(F.col("side") == 1)
        .select(
            "event_id", "user_id", "ts",
            F.col("m.event_id").alias("asof_event_id"),
            F.col("m.ts").alias("asof_ts"),
            F.col("m.value").alias("asof_value"),
        )
    )


# Hypertable-style time rollup -------------------------------------------

def time_rollup(spark, sf_dir) -> DataFrame:
    """Continuous-aggregate-style rollup over the event hypertable:
    per (day, event_type) metrics plus per-day and grand totals in one
    pass (``ROLLUP`` — subtotal rows carry NULL group keys, the
    TimescaleDB/OLAP convention). Spark compiles rollup grouping sets
    into a single shuffle with map-side partial aggregation — at
    10^12 rows this is one pass over the fact table, not one query
    per grain.
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.date_trunc("day", F.col("ts")))
        .rollup("day", "event_type")
        .agg(F.count("*").alias("n_events"),
             _dsum(F.col("value")).alias("sum_value"))
        .select("day", "event_type", "n_events", "sum_value")
    )


# Range (interval) join ---------------------------------------------------

RANGE_BUCKET_S = 3600  # 1h time buckets for the interval equi-join


def session_error_counts(spark, sf_dir) -> DataFrame:
    """Range join: per session window, how many 'error' events (any
    user) fell inside [t_start, t_end] — inclusive on both ends.

    Spark-first shape: a raw ``e.ts BETWEEN s.t_start AND s.t_end``
    theta-join has no equi-key and plans as a nested-loop cross
    product. Instead both sides map to fixed-width time buckets — the
    interval explodes into the buckets it covers (cost ∝ duration /
    bucket width), the point maps to exactly one — so the join is a
    plain equi-join on bucket with the exact containment predicate as
    a post-filter. Each (session, event) pair meets exactly once
    (the event's bucket is unique), so a plain count is correct.
    This is the standard interval-join decomposition at 10^12 rows;
    AQE handles residual bucket skew.
    """
    sessions = sessionize_events(spark, sf_dir).select(
        "user_id", "session_idx", "t_start", "t_end")
    errors = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "error")
        .select("event_id", F.col("ts").alias("err_ts"))
    )
    es = F.col("t_start").cast("timestamp").cast("long")
    ee = F.col("t_end").cast("timestamp").cast("long")
    s = sessions.withColumn(
        "bucket",
        F.explode(F.sequence(F.floor(es / RANGE_BUCKET_S),
                             F.floor(ee / RANGE_BUCKET_S))))
    e = errors.withColumn(
        "bucket",
        F.floor(F.col("err_ts").cast("timestamp").cast("long")
                / RANGE_BUCKET_S))
    # LEFT join on bucket, containment counted inside the aggregate:
    # every session has >= 1 bucket row, so zero-error sessions
    # survive WITHOUT a second left join against the sessions frame —
    # which would re-execute the whole sessionization subtree
    # (verified: the join-back shape ran the lag/cumsum windows twice).
    return (
        s.join(e, "bucket", "left")
        .groupBy("user_id", "session_idx")
        .agg(F.sum(
            F.when((F.col("err_ts") >= F.col("t_start"))
                   & (F.col("err_ts") <= F.col("t_end")), 1)
            .otherwise(0)).cast("bigint").alias("n_errors"))
    )


# --- approximate distinct counting (HyperLogLog++) with exact audit --------

# HLL++ relative standard deviation for the registered query. 4 sigma
# plus a +1 absolute slack makes the audit bound effectively certain
# while staying tight enough to catch a broken sketch outright.
CARDINALITY_RSD = 0.05


def approx_user_cardinality(events: DataFrame,
                            rsd: float = CARDINALITY_RSD) -> DataFrame:
    """The 10^12-row COUNT DISTINCT path: ``approx_count_distinct``
    (Spark's HyperLogLog++ — fixed-size mergeable registers, map-side
    combinable, one aggregation pass, no expand/distinct shuffle),
    plus an in-plan audit against the exact count.

    Same contract shape as ``textops.approx_corpus_percentiles``: the
    sketch estimate itself is engine-specific, so the driver-checked
    output carries the exact count (the auditor — affordable at test
    scale, the thing you precisely CAN'T do at 10^12) and
    ``within_bound`` asserting |approx − exact| ≤ 4·rsd·exact + 1.
    Spark's HLL++ is deterministic (fixed hash), so the flag is
    stable for a given dataset; any sketch regression hash-mismatches
    against the oracle's literal TRUE. At deployment the exact branch
    is dropped and the estimate column is the product.

    Output: (event_type, n_events, exact_users, within_bound).
    """
    base = events.select(
        "event_type", F.col("user_id").cast("bigint").alias("user_id"))
    agg = base.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd).alias("approx_users"),
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("exact_users"))
    bound = F.lit(4.0 * rsd) * F.col("exact_users").cast("double") + 1.0
    return agg.select(
        "event_type", "n_events", "exact_users",
        (F.abs(F.col("approx_users").cast("double")
               - F.col("exact_users").cast("double"))
         <= bound).alias("within_bound"))


# --- Luhn-validated PAN redaction -------------------------------------------

# Candidate runs: MAXIMAL digit/space/dash runs, unbounded. The old
# bounded pattern ([0-9][0-9 -]{11,21}[0-9]) let a valid PAN escape
# whenever ANY other digit group sat next to it ('4111111111111111
# 2024' merged into one 21-digit candidate that failed the length
# gate) — a silent PII leak on very plausible document text. No
# lookarounds — the pattern must mean the same thing to Java regex
# and RE2 (the oracle).
PAN_CANDIDATE_RE = "[0-9][0-9 -]*[0-9]"
PAN_TOKEN = "<PAN>"
# ISO/IEC 7812 PAN lengths, and the most groups a separator-formatted
# PAN realistically spans (4-4-4-4-3 is 5; 6 leaves margin). The
# group cap is what keeps the detector LINEAR in run length and keeps
# its false-positive surface identical to the bounded detector's: a
# 26-digit contiguous reference number is ONE group, never window-
# scanned, so it survives exactly as before (scanning every 13-19
# digit window instead would Luhn-hit ~10% of windows and start
# eating long order ids).
PAN_MIN_DIGITS = 13
PAN_MAX_DIGITS = 19
PAN_MAX_GROUPS = 6

# The whole detector is one scalar expression tree (regexp scan →
# split into digit groups → Luhn checksum over contiguous group
# subsequences as integer folds → literal replace fold): map-side, no
# join, no UDF. The Luhn check is what separates a PAN from an order
# id — redacting every digit run would destroy data the pipeline
# needs (the reference's whole point is extracting amounts and dates
# from credit documents; ``validation.py`` keeps numbers, this drops
# only runs carrying a checksummed card number). A run is flagged
# when ANY contiguous subsequence of <= PAN_MAX_GROUPS of its digit
# groups concatenates to 13-19 Luhn-valid digits — so a PAN glued to
# a year or quantity ('4111111111111111 2024') is still caught — and
# the WHOLE run is redacted (privacy-first: the neighbouring digits
# go with it; reconstructing the subsequence's separator-preserving
# original substring would buy back a year digit at the cost of an
# offset-mapping fold in two engines). `exists` short-circuits, so
# clean text pays one group pass per digit run.
_PAN_DIGIT = "(ascii(substring(num, length(num) - i + 1, 1)) - 48)"
_PAN_VALID_EXPR = f"""
array_sort(array_distinct(transform(filter(
  transform(regexp_extract_all(text, '{PAN_CANDIDATE_RE}', 0),
    c -> named_struct('orig', c,
                      'grps', filter(split(c, '[ -]+'), g -> g != ''))),
  s -> exists(
    flatten(transform(sequence(1, size(s.grps)), a ->
      transform(sequence(a, least(size(s.grps),
                                  a + {PAN_MAX_GROUPS - 1})), b ->
        array_join(slice(s.grps, a, b - a + 1), '')))),
    num -> length(num) >= {PAN_MIN_DIGITS} AND
           length(num) <= {PAN_MAX_DIGITS} AND
           aggregate(sequence(1, length(num)), 0, (acc, i) -> acc +
             CASE WHEN i % 2 = 0 THEN
               CASE WHEN 2 * {_PAN_DIGIT} > 9
                    THEN 2 * {_PAN_DIGIT} - 9
                    ELSE 2 * {_PAN_DIGIT} END
             ELSE {_PAN_DIGIT} END) % 10 = 0)),
  s -> s.orig)))
"""


def redact_pans(documents: DataFrame) -> DataFrame:
    """Redact Luhn-valid payment-card numbers from document text.

    Output: (doc_id, n_pans, text_redacted). Candidates are maximal
    digit/space/dash runs, split into separator-delimited digit
    groups; a run is redacted iff some contiguous subsequence of at
    most ``PAN_MAX_GROUPS`` groups concatenates to 13-19 digits that
    pass the Luhn checksum (ISO/IEC 7812) — computed as ordered
    integer folds over the digit positions, all JVM-side scalar
    expressions. ``n_pans`` counts redacted runs. Redaction itself is
    a literal-replace fold over the (sorted, distinct) flagged runs,
    so the same card written twice redacts both times and the fold
    order is deterministic. The identical expression tree runs in the
    DuckDB oracle (list_filter/list_reduce/struct_extract spellings).

    Known bound: a PAN written as >6 separator groups (e.g. one digit
    per group) escapes; a PAN embedded inside a LONGER contiguous
    digit run (no separators) also escapes — both are non-formats no
    issuer prints, and scanning them would false-positive on long
    reference numbers (see the PAN_MAX_GROUPS note above).

    The candidate array is computed ONCE into a mid-plan column;
    Catalyst keeps the two projections separate (CollapseProject
    refuses to duplicate non-cheap expressions), so each row pays one
    regexp scan + Luhn pass, not two.
    """
    with_pans = documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("text"),
        F.expr(_PAN_VALID_EXPR).alias("pans"))
    # Boundary-guarded replacement: a flagged run is replaced only
    # where it occurs as a MAXIMAL run, never as a substring of a
    # longer digit run — '4111 1111 1111 1111' inside
    # '94111 1111 1111 11113' must not corrupt the longer (unflagged)
    # reference number. An occurrence is part of a larger run iff a
    # digit connects to it through separator chars, so each side
    # consumes '[ -]*' and then requires a non-run char or the string
    # end ('price: 4111...' — space before the run — still redacts).
    # No lookarounds (RE2 oracle parity), so boundary chars are
    # consumed and preserved via backreferences; the replace runs
    # twice per run because a consumed right boundary can hide an
    # immediately-following occurrence ('p.p') from the first pass —
    # after pass one every missed occurrence is isolated, so two
    # passes are always enough. p contains only [0-9 -]:
    # regex-literal by construction.
    bounded = ("concat('(^|[^0-9 -])([ -]*)', p,"
               " '([ -]*)([^0-9 -]|$)')")
    one = f"regexp_replace(acc, {bounded}, '$1$2{PAN_TOKEN}$3$4')"
    two = f"regexp_replace({one}, {bounded}, '$1$2{PAN_TOKEN}$3$4')"
    return with_pans.select(
        "doc_id",
        F.size("pans").alias("n_pans"),
        F.expr(
            f"aggregate(pans, text, (acc, p) -> {two})"
        ).alias("text_redacted"))


# --- count-min-sketch heavy hitters ------------------------------------------

# The skew-detection front door for the salting story
# (plans/pipeline.py::repartition_salted defuses hot keys; THIS is how
# a 10^12-row job finds them without an exact groupBy over every key).
# Depth x width are the classic CMS shape: error <= e*N/width per row,
# failure probability exp(-depth) over the min.
CMS_DEPTH = 4
CMS_WIDTH = 512
# Candidate keys come from a record-level deterministic sample (first
# md5 hex char of the record id): any key hot enough to matter appears
# in the sample w.h.p. (a phi-hot key misses a rate-p sample with
# probability (1-p)^(phi*N) -> 0 at any real N). 3/16 here; at 10^12
# rows the rate drops orders of magnitude and the guarantee tightens.
CMS_SAMPLE_HEX = ("0", "1", "2")
# phi-heavy-hitter rule as an INTEGER compare (est * HOT_ONE_IN >=
# N_total), so the threshold never touches doubles cross-engine.
HOT_ONE_IN = 160


def _cms_cells(key: str, depth: int, width: int):
    """The CMS cell coordinates of string column ``key``: one (d, slot)
    struct per sketch row, slot = portable hex-bucket of
    md5('<d>:' || key). Identical ascii arithmetic runs in the DuckDB
    oracle. Built from SQL text: the same expression through the
    Column API took ~200 JVM calls per use, ~0.2 s of driver time."""
    from .textops import _hex_bucket_sql

    cells = []
    for d in range(depth):
        slot = _hex_bucket_sql(f"md5(concat('{d}:', `{key}`))", width)
        cells.append(f"named_struct('d', {d}, 'slot', {slot})")
    return F.expr(f"array({', '.join(cells)})")


def detect_hot_keys(df: DataFrame, key_expr, rec_id_expr,
                    depth: int = CMS_DEPTH,
                    width: int = CMS_WIDTH,
                    hot_one_in: int = HOT_ONE_IN) -> DataFrame:
    """Deployment-mode CMS heavy-hitter detection: the ``hot_keys``
    sketch/candidate/probe core WITHOUT the exact-count auditor —
    what a 10^12-row job actually runs per batch (the auditor is a
    correctness harness, not a production stage).

    ``key_expr`` is the potential skew key (e.g. the url host for an
    extraction batch), ``rec_id_expr`` a deterministic record id for
    the candidate sample. Returns ``(key, est_count, n_total,
    is_hot)`` for the sampled candidates; consumers keep the
    ``is_hot`` rows. Same bounded-exchange scale shape as
    ``hot_keys`` (sketch exchange = depth x width slots, candidate
    set = rate-3/16 sample distinct, probe joins the broadcast
    sketch)."""
    base = df.select(key_expr.cast("string").alias("key"),
                     rec_id_expr.cast("string").alias("rec_id"))

    cells = (
        base.select(F.explode(_cms_cells("key", depth, width))
                    .alias("c"))
        .groupBy(F.col("c.d").alias("d"), F.col("c.slot").alias("slot"))
        .agg(F.count("*").alias("cnt")))

    total = base.agg(F.count("*").alias("n_total"))

    cands = (
        base.filter(F.substring(F.md5(F.concat(F.lit("hh:"),
                                               F.col("rec_id"))), 1, 1)
                    .isin(*CMS_SAMPLE_HEX))
        .select("key").distinct())

    probe = cands.select(
        "key", F.explode(_cms_cells("key", depth, width)).alias("c")
    ).select("key", F.col("c.d").alias("d"), F.col("c.slot").alias("slot"))

    est = (probe.join(F.broadcast(cells), ["d", "slot"])
           .groupBy("key").agg(F.min("cnt").alias("est_count")))

    return (est.crossJoin(F.broadcast(total))
            .select("key",
                    F.col("est_count").cast("bigint").alias("est_count"),
                    F.col("n_total").cast("bigint").alias("n_total"),
                    (F.col("est_count") * hot_one_in >= F.col("n_total"))
                    .alias("is_hot")))


def hot_keys(events: DataFrame,
             key_col: str = "user_id",
             depth: int = CMS_DEPTH,
             width: int = CMS_WIDTH,
             hot_one_in: int = HOT_ONE_IN) -> DataFrame:
    """Count-min-sketch heavy-hitter detection with an in-plan exact
    auditor — the hot-key *detector* that feeds ``repartition_salted``.

    Scale shape (the reason this survives 10^12 rows where an exact
    per-key count does not):

    * **sketch build** — every record maps to ``depth`` (d, slot)
      cells; the groupBy exchange is bounded by the SLOT SPACE
      (depth x width rows, map-side partial counts), never by the
      number of distinct keys. Same bounded-exchange argument as
      ``weburl.sitemap_frontier_bloom``.
    * **candidates** — distinct keys of a deterministic record-level
      sample (md5-prefix rule, engine-portable); the sampled-candidate
      set is what CMS needs because the sketch alone cannot enumerate
      keys.
    * **probe** — the depth x width sketch BROADCASTS; each candidate
      reads its ``depth`` cells and takes the min (the CMS estimate).
      No shuffle grows with the corpus.
    * **auditor** — ``exact_count`` per candidate (a groupBy restricted
      to sampled keys) plus ``never_under`` asserting the CMS
      one-sided-error guarantee est >= exact; at deployment both drop
      and ``is_hot`` routes keys into the salted path.

    Everything is md5-deterministic, so the DuckDB oracle recomputes
    the identical sketch, estimates, and verdicts — a full value-hash
    check, not rows-only.

    Output: (key, est_count, exact_count, is_hot, never_under).
    """
    key = F.col(key_col).cast("string")
    base = events.select(
        key.alias("key"),
        F.col("event_id").cast("string").alias("rec_id"))

    det = detect_hot_keys(base, F.col("key"), F.col("rec_id"),
                          depth=depth, width=width,
                          hot_one_in=hot_one_in)

    cands = (
        base.filter(F.substring(F.md5(F.concat(F.lit("hh:"),
                                               F.col("rec_id"))), 1, 1)
                    .isin(*CMS_SAMPLE_HEX))
        .select("key").distinct())

    exact = (base.join(F.broadcast(cands), "key")
             .groupBy("key").agg(F.count("*").alias("exact_count")))

    return (
        det.join(exact, "key")
        .select(
            "key",
            "est_count",
            F.col("exact_count").cast("bigint").alias("exact_count"),
            "is_hot",
            (F.col("est_count") >= F.col("exact_count"))
            .alias("never_under")))
