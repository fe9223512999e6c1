"""Scale machinery: skew-aware aggregation, host extraction, partition
pruning helpers (SURVEY.md §4.3; north rule: "partitioning / shuffle /
skew handled explicitly ... salted repartitioning for skewed hosts").

Why AQE alone is not enough: adaptive skew-join splitting fixes skewed
JOINs, but a single-key ``groupBy(host)`` still funnels each hot host into
one reducer task. The fix is the classic two-phase salted aggregate:

    phase 1:  groupBy(host, salt) — hot keys split across S reducers
    phase 2:  groupBy(host)       — combine S partials (tiny input)

``salt = pmod(xxhash64(row-unique-expr), S)`` keeps the split deterministic.
For algebraic aggregates (count/sum/min/max) the rewrite is exact.

The opposite end of the size range lives here too: ``collect_within_budget``
is the one size switch for iterative graph operators (PageRank, connected
components) whose input is usually small enough to resolve on the driver.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F


def host_of(url: Column) -> Column:
    """Host part of a URL (native parse_url — codegen'd)."""
    return F.parse_url(url, F.lit("HOST"))


def with_salt(df: DataFrame, unique_expr: Column, buckets: int, salt_col: str = "_salt") -> DataFrame:
    """Deterministic salt column in [0, buckets)."""
    return df.withColumn(salt_col, F.pmod(F.xxhash64(unique_expr), F.lit(buckets)))


def salted_count(
    df: DataFrame,
    key_cols: Sequence[str],
    unique_expr: Column,
    buckets: int = 64,
) -> DataFrame:
    """Exact per-key counts via two-phase salted aggregation.

    Equivalent to ``df.groupBy(*key_cols).count()`` but a hot key's rows
    spread over ``buckets`` phase-1 reducers instead of one straggler.
    """
    key_cols = list(key_cols)
    salted = with_salt(df, unique_expr, buckets)
    partial = salted.groupBy(*key_cols, "_salt").agg(F.count(F.lit(1)).alias("_n"))
    return partial.groupBy(*key_cols).agg(F.sum("_n").alias("n"))


def salted_agg(
    df: DataFrame,
    key_cols: Sequence[str],
    unique_expr: Column,
    aggs: dict,
    buckets: int = 64,
) -> DataFrame:
    """Two-phase salted aggregation for algebraic aggregates.

    ``aggs``: {out_name: (in_col, fn)} with fn in {"count","sum","min","max"}.
    Phase 1 computes per-(key, salt) partials; phase 2 combines with the
    matching combiner (count -> sum of partial counts, min -> min of
    partial mins, ...). Exact for these algebraic functions.
    """
    key_cols = list(key_cols)
    partial_exprs, final_exprs = [], []
    for name, (col, fn) in aggs.items():
        if fn == "count":
            partial_exprs.append(F.count(col).alias(f"_p_{name}"))
            final_exprs.append(F.sum(f"_p_{name}").alias(name))
        elif fn == "sum":
            partial_exprs.append(F.sum(col).alias(f"_p_{name}"))
            final_exprs.append(F.sum(f"_p_{name}").alias(name))
        elif fn == "min":
            partial_exprs.append(F.min(col).alias(f"_p_{name}"))
            final_exprs.append(F.min(f"_p_{name}").alias(name))
        elif fn == "max":
            partial_exprs.append(F.max(col).alias(f"_p_{name}"))
            final_exprs.append(F.max(f"_p_{name}").alias(name))
        else:
            raise ValueError(f"non-algebraic aggregate {fn!r} cannot be salted exactly")
    salted = with_salt(df, unique_expr, buckets)
    partial = salted.groupBy(*key_cols, "_salt").agg(*partial_exprs)
    return partial.groupBy(*key_cols).agg(*final_exprs)


def per_host_verdicts(
    validated: DataFrame,
    url_col: str = "url",
    buckets: int = 64,
) -> DataFrame:
    """Per-host pass/fail verdicts with salted two-phase aggregation —
    the skew-safe version of ValidationEngine.partition_verdicts for
    Zipf-distributed hosts."""
    df = validated.withColumn("_host", host_of(F.col(url_col)))
    out = salted_agg(
        df,
        ["_host"],
        F.col(url_col),
        {
            "n_rows": (F.lit(1), "count"),
            "n_invalid": ((~F.col("verdict")).cast("long"), "sum"),
            "n_errors": (F.size("errors"), "sum"),
        },
        buckets=buckets,
    )
    return out.withColumnRenamed("_host", "host").withColumn(
        "pass", F.col("n_invalid") == 0
    )


def prune_days(df: DataFrame, ts_col: str, start: Optional[str], end: Optional[str]) -> DataFrame:
    """Partition-pruning filter on the crawl-day column: with a
    days(warc_ts)-partitioned table (Iceberg hidden partitioning or
    parquet dir partitioning) these predicates prune at the manifest/file
    level — verify via PushedFilters / 'partition filters' in explain()."""
    out = df
    if start is not None:
        out = out.filter(F.col(ts_col) >= F.lit(start).cast("timestamp"))
    if end is not None:
        out = out.filter(F.col(ts_col) < F.lit(end).cast("timestamp"))
    return out


def deterministic_sample(
    df: DataFrame,
    id_col: str,
    rate_sixteenths: int,
    method: str = "md5",
) -> DataFrame:
    """Deterministic, reproducible sampling by content of the id — the
    training-data-pipeline sampling primitive (holdout carving, debug
    slices, stratified eval sets). Keeps rows whose first md5 nibble of
    ``str(id)`` is < ``rate_sixteenths`` (rate = n/16): the SAME rows
    survive on any engine, any partitioning, any run — unlike
    ``df.sample()``, whose output depends on partition layout.

    Scale shape: a pure filter — pushes into the scan pipeline, no
    shuffle, no state. ``method='xxhash64'`` uses
    ``pmod(xxhash64(id), 16)`` (faster; engine-specific).
    """
    if not 0 <= rate_sixteenths <= 16:
        raise ValueError("rate_sixteenths must be in [0, 16]")
    if method == "md5":
        nib = F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 1), 16, 10
        ).cast("int")
    else:
        nib = F.pmod(F.xxhash64(F.col(id_col)), F.lit(16))
    return df.filter(nib < rate_sixteenths)


def balance_by_domain(
    df: DataFrame,
    domain_col: str,
    id_col: str = "doc_id",
    score_col: Optional[str] = None,
    cap: int = 1000,
) -> DataFrame:
    """Cap each domain's share of the corpus (the C4/mC4 convention —
    without it a handful of mega-domains dominate the training mix):
    keep at most ``cap`` rows per ``domain_col``, the best first —
    ordered by (``score_col`` DESC, ``id_col`` ASC), or by id alone —
    so the selection is deterministic under any partitioning.

    Pair with ``ops.urls.registered_domain`` for the key: host-level
    capping overcounts (every ``*.blogspot.com`` subdomain is a
    different registrant) and undercounts (``www.``/``cdn.`` variants
    of one site each get their own budget).

    100 TB shape: ONE domain-keyed window shuffle. The heaviest domain
    defines the largest partition; the cap bounds what SURVIVES, not
    the partition itself — for a pathological domain holding a double-
    digit share of the corpus, pre-filter with a salted count and
    sample before windowing."""
    from pyspark.sql import Window

    order = (
        [F.col(score_col).desc(), F.col(id_col).asc()]
        if score_col
        else [F.col(id_col).asc()]
    )
    w = Window.partitionBy(domain_col).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    rates_sixteenths: dict[str, int],
    default_sixteenths: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the training-MIX primitive
    (`deterministic_sample` with a rate per language/source/quality
    bucket): keep a row iff the first md5 nibble of its id is below its
    STRATUM's rate (n/16). Same reproducibility contract as the global
    sampler (identical rows on any engine/partitioning/run), so two
    teams materializing "50% en, 25% de, everything else out" get the
    byte-same corpus. Unlisted strata (and NULL) use
    ``default_sixteenths``.

    Scale shape: a pure filter over a small literal CASE — pushes into
    the scan, no shuffle, no join against a rates table."""
    for k, v in rates_sixteenths.items():
        if not 0 <= v <= 16:
            raise ValueError(f"rate for {k!r} must be in [0, 16]")
    if not 0 <= default_sixteenths <= 16:
        raise ValueError("default_sixteenths must be in [0, 16]")
    nib = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 1), 16, 10
    ).cast("int")
    rate = F.lit(default_sixteenths)
    for k, v in sorted(rates_sixteenths.items()):
        rate = F.when(F.col(stratum_col) == k, F.lit(v)).otherwise(rate)
    return df.filter(nib < rate)


def exact_quantile_buckets(
    df: DataFrame,
    score_col: str,
    n_buckets: int = 10,
    out_col: str = "bucket",
    max_distinct: int = 100_000,
) -> DataFrame:
    """EXACT global quantile buckets (deciles by default) without a
    global sort: the corpus-analytics primitive behind "train on the
    top quality decile".

    Two passes, both scale-clean: (1) aggregate per-score counts — the
    contract is a BOUNDED score domain (this repo quantizes scores to
    millionths), asserted against ``max_distinct`` — and build the
    cumulative table driver-side; (2) broadcast-join the (score ->
    bucket) table back. Deliberately a broadcast JOIN, not a literal
    map: a 10^5-entry ``create_map`` would inline a multi-MB
    expression tree into the plan (the ops/lm.py lesson).

    Bucket rule, deterministic and tie-stable (equal scores share a
    bucket): ``min(n_buckets-1, rows_before(score) * n_buckets //
    total)`` — integer arithmetic, replayable as a SQL running-sum
    window. NULL scores keep a NULL bucket."""
    counts = df.groupBy(score_col).count().collect()
    rows = sorted((r[0], r[1]) for r in counts if r[0] is not None)
    if len(rows) > max_distinct:
        raise ValueError(
            f"{len(rows)} distinct scores > max_distinct={max_distinct}: "
            "quantize the score first (the bounded-domain contract)"
        )
    total = sum(n for _, n in rows) or 1
    mapping, before = [], 0
    for s, n in rows:
        mapping.append((s, min(n_buckets - 1, before * n_buckets // total)))
        before += n
    spark = df.sparkSession
    stype = df.schema[score_col].dataType.simpleString()
    mdf = spark.createDataFrame(
        mapping, f"{score_col} {stype}, {out_col} int"
    )
    return df.join(F.broadcast(mdf), score_col, "left")


# ------------------------------------------------ driver-side fast paths

#: share of ``spark.driver.memory`` one driver-side fast path may fill
DRIVER_MEMORY_SHARE = 1 / 8
#: estimated driver bytes per collected row: the JVM's Arrow buffers plus
#: the Python objects (ids, dict entries) a graph fast path builds per edge
DRIVER_ROW_BYTES = 512


def driver_row_budget(spark) -> int:
    """Rows a driver-side fast path may collect:
    ``DRIVER_MEMORY_SHARE`` of ``spark.driver.memory`` over
    ``DRIVER_ROW_BYTES`` (8g -> 2,097,152 rows; 1g -> 262,144). The size
    is read through the JVM so a unitless value means MiB, as in Spark."""
    conf = spark.sparkContext._jsc.sc().conf()
    mb = conf.getSizeAsMb("spark.driver.memory", "1g")
    return int(mb * 2**20 * DRIVER_MEMORY_SHARE) // DRIVER_ROW_BYTES


def collect_within_budget(df: DataFrame):
    """One bounded Arrow collect that picks between a driver fast path and
    the distributed one: returns ``df``'s rows as a ``pyarrow.Table`` when
    there are at most ``driver_row_budget`` of them, else None (after
    fetching ``budget + 1`` rows, the price of the probe past the bound).

    Arrow keeps the collect columnar (no ``Row`` objects) and its ints
    exact with NULLs (pandas would turn a nullable BIGINT into floats).
    Build the fast path's result with ``spark.createDataFrame(table,
    schema)``: an Arrow-built local relation plans as ``LocalTableScan``
    and collects with 0 jobs, where a list of tuples plans as ``Scan
    ExistingRDD`` and pays a Python-worker job on every consumption."""
    budget = driver_row_budget(df.sparkSession)
    table = df.limit(budget + 1).toArrow()
    return table if table.num_rows <= budget else None
