"""Data-layout operators: Z-order (Morton) clustering of the events
table and the file-level min/max statistics that make it pay.

Why this is an engine feature at 100 TB: scan pruning is the single
biggest lever on a petabyte table — a parquet/Iceberg/Delta reader
skips a file when the query predicate excludes the file's min/max
range. Sorting by one column gives perfect pruning on that column and
none on any other; interleaving the bits of two (or more) columns into
a Morton code and clustering files by code prefix gives bounded ranges
on BOTH columns in every file, so point/range predicates on either
dimension prune most files (the Delta Lake / Iceberg Z-ORDER feature,
and the same curve-clustering idea as Hilbert layout).

The implementation is shuffle-minimal by construction: the Morton code
is a narrow codegen projection, and the "file" assignment keeps the
top ``FILE_PREFIX_BITS`` of the code (prefix buckets — exactly how a
writer would split clustered output), so the whole per-file statistics
query is projection + one aggregation. A production writer would
``repartitionByRange(z).sortWithinPartitions(z)`` and let the sink
record the stats; this operator computes the stats table itself so the
pruning claim is testable (tests/test_layout.py compares files touched
by a user-range query under Z-order vs time-ordered layout).

Both engines build the code from the same 16-term shift/mask sum, so
the oracle is bit-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ..streaming.events import events_batch

# A production writer sizes the per-dimension bit width from table
# statistics so the code's top bits actually vary (too wide a width
# leaves the high interleave bits constant and every row lands in one
# prefix file). 8 bits per dimension fits the synthetic feed's
# cardinalities (≤ 1.5k users, hours wrapped mod 256) and yields up to
# 256 prefix files of 16×16 dimension cells.
DIM_BITS = 8  # per-dimension bits kept in the interleave
FILE_PREFIX_BITS = 8  # z >> (2*DIM_BITS - 8): 256 possible prefix files
EPOCH_2024_HOURS = 1_704_067_200 // 3600  # hour index of 2024-01-01


def _dims_sql(idiv: str) -> tuple[str, str]:
    """(user_dim, time_dim) SQL: low 16 bits of user_id and of the hour
    index relative to 2024-01-01 (the synthetic feed's origin; a fixed
    offset keeps the dimension small without a data-dependent min
    pass). ``idiv`` is the engine's integer-division token — the ONLY
    syntax difference (`div` in Spark, `//` in DuckDB); the bit
    operators `&`, `>>`, `<<` parse identically in both."""
    mask = (1 << DIM_BITS) - 1
    u = f"(user_id & {mask})"
    t = f"(((epoch_s {idiv} 3600) - {EPOCH_2024_HOURS}) & {mask})"
    return u, t


def _morton_sql(u: str, t: str) -> str:
    """Morton interleave of two DIM_BITS-wide ints: user bits land on
    odd positions, time bits on even — one flat integer expression both
    engines fold into codegen/constant arithmetic."""
    terms = []
    for i in range(DIM_BITS):
        terms.append(f"((({u} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({t} >> {i}) & 1) << {2 * i})")
    return "(" + " + ".join(terms) + ")"


def _stats_over(rel: str, epoch_s: str, idiv: str) -> str:
    """Shared SQL body: per-prefix-file row counts and min/max of both
    dimensions. ``rel``/``epoch_s``/``idiv`` differ per engine (epoch
    seconds of the ts column; integer-division token)."""
    u, t = _dims_sql(idiv)
    z = _morton_sql("udim", "tdim")
    shift = 2 * DIM_BITS - FILE_PREFIX_BITS
    return f"""
        SELECT zfile, COUNT(*) AS n_rows,
               MIN(udim) AS min_user, MAX(udim) AS max_user,
               MIN(tdim) AS min_hour, MAX(tdim) AS max_hour
        FROM (
            SELECT ({z} >> {shift}) AS zfile, udim, tdim
            FROM (
                SELECT {u} AS udim, {t} AS tdim
                FROM (SELECT user_id, {epoch_s} AS epoch_s FROM {rel})
            )
        )
        GROUP BY zfile
    """


def zorder_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(zfile, n_rows, min_user, max_user, min_hour, max_hour) — the
    file-statistics table a Z-order-clustered write of ``events`` would
    produce, with files = top-``FILE_PREFIX_BITS`` Morton prefixes.
    Narrow projection + one aggregation; no sort, no window."""
    ev = events_batch(spark, sf_dir)
    ev.createOrReplaceTempView("_zorder_events")
    epoch_s = (
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    return spark.sql(_stats_over("_zorder_events", epoch_s, "div"))


def duck_zorder_files() -> str:
    return _stats_over("events", "epoch_us(ts) // 1000000", "//")


def files_touched(stats: DataFrame, user_lo: int, user_hi: int) -> int:
    """How many files a user-range predicate must read under the given
    layout — the data-skipping metric (a reader consults exactly these
    min/max columns)."""
    return stats.filter(
        (F.col("max_user") >= user_lo) & (F.col("min_user") <= user_hi)
    ).count()


def timeorder_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline layout: the same events split into equal-width TIME
    buckets (what a plain append-by-arrival writer produces). Same
    stats schema, for the pruning comparison in tests."""
    ev = events_batch(spark, sf_dir)
    ev.createOrReplaceTempView("_timeorder_events")
    mask = (1 << DIM_BITS) - 1
    return spark.sql(f"""
        SELECT zfile, COUNT(*) AS n_rows,
               MIN(udim) AS min_user, MAX(udim) AS max_user,
               MIN(tdim) AS min_hour, MAX(tdim) AS max_hour
        FROM (
            SELECT (tdim % 256) AS zfile, udim, tdim
            FROM (
                SELECT (user_id & {mask}) AS udim,
                       (((timestampdiff(SECOND,
                             TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)
                          div 3600) - {EPOCH_2024_HOURS}) & {mask}) AS tdim
                FROM _timeorder_events
            )
        )
        GROUP BY zfile
    """)


# ------------------------------------------------------------ compaction

COMPACT_TARGET_ROWS = 2048


def compaction_plan(
    spark: SparkSession,
    sf_dir: str,
    target_rows: int = COMPACT_TARGET_ROWS,
    n_ranges: int = 16,
) -> DataFrame:
    """(bin, n_files, total_rows, first_file, last_file, min_user,
    max_user) — the bin-packing plan a table-maintenance compactor
    (Iceberg ``rewrite_data_files`` binpack / Delta OPTIMIZE) would
    produce over the Z-clustered file statistics: walk files in layout
    order (zfile ascending — preserving the clustering the layout paid
    for) and start a new output file whenever the running row total
    crosses ``target_rows``. Small-file compaction is the maintenance
    half of the layout story: Z-order buys data skipping, compaction
    keeps per-file row counts near the scanner's sweet spot so the
    skipping survives a million tiny appends.

    Assignment rule (engine-portable): ``bin = cum_before div
    target_rows`` where ``cum_before`` is the exact running sum of rows
    in files strictly earlier in zfile order — a pure prefix-sum, no
    greedy driver loop.

    Plan: the file-stats relation is metadata-grain (one row per file —
    millions of rows for a 100 TB table, never corpus-grain), but the
    prefix sum still avoids the single-task global sort: range-partition
    by zfile, windowed cumsum within each sorted range, and add
    driver-side per-range prefix offsets (≤ ``n_ranges`` numbers
    collected) — the A9 ``vocabulary`` recipe applied to a SUM instead
    of a COUNT."""
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    from ..session import track_cache

    from ..plans.rangenum import prefix_offset_col, ranged_by

    stats = zorder_files(spark, sf_dir)
    ranged = ranged_by(stats, n_ranges, "zfile")
    off_col, _total = prefix_offset_col(ranged, F.col("n_rows"))
    w = (
        Window.partitionBy("pid")
        .orderBy("zfile")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_rows").over(w), F.lit(0)) + off_col
    return (
        ranged.withColumn("cum_before", cum)
        .withColumn(
            "bin", F.expr(f"CAST(cum_before div {target_rows} AS INT)")
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("n_rows").alias("total_rows"),
            F.min("zfile").alias("first_file"),
            F.max("zfile").alias("last_file"),
            F.min("min_user").alias("min_user"),
            F.max("max_user").alias("max_user"),
        )
    )


def duck_compaction_plan(target_rows: int = COMPACT_TARGET_ROWS) -> str:
    """Oracle: the same prefix-sum assignment as one window over the
    stats subquery (independent formulation: global ordered window vs
    the engine's range-partitioned two-phase cumsum)."""
    return f"""
        WITH stats AS ({duck_zorder_files()}),
        c AS (
            SELECT *,
                   COALESCE(SUM(n_rows) OVER (
                       ORDER BY zfile
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS cum_before
            FROM stats
        )
        SELECT CAST(cum_before // {target_rows} AS INT) AS bin,
               COUNT(*) AS n_files, CAST(SUM(n_rows) AS BIGINT) AS total_rows,
               MIN(zfile) AS first_file, MAX(zfile) AS last_file,
               MIN(min_user) AS min_user, MAX(max_user) AS max_user
        FROM c GROUP BY 1
    """


# ------------------------------------------------- zone-map prune audit

# deterministic probe grid: point-user × 24-hour-window predicates
PRUNE_PROBES = tuple(
    (u, h, h + 23) for u in (1, 5, 9, 13) for h in (0, 64, 128, 192)
)


def _timeorder_stats_sql(rel: str, epoch_s: str, idiv: str) -> str:
    """Zone-map stats of the BASELINE layout (equal-width time buckets —
    what a plain append-by-arrival writer produces), engine-portable
    like ``_stats_over``."""
    mask = (1 << DIM_BITS) - 1
    return f"""
        SELECT zfile, COUNT(*) AS n_rows,
               MIN(udim) AS min_user, MAX(udim) AS max_user,
               MIN(tdim) AS min_hour, MAX(tdim) AS max_hour
        FROM (
            SELECT (tdim % 256) AS zfile, udim, tdim
            FROM (
                SELECT (user_id & {mask}) AS udim,
                       ((({epoch_s}) {idiv} 3600) - {EPOCH_2024_HOURS})
                           & {mask} AS tdim
                FROM {rel}
            )
        )
        GROUP BY zfile
    """


def zonemap_prune(
    spark: SparkSession,
    sf_dir: str,
    probes: tuple[tuple[int, int, int], ...] = PRUNE_PROBES,
) -> DataFrame:
    """(pred_user, hour_lo, hour_hi, files_z, rows_z, files_t, rows_t)
    — data-skipping effectiveness audit: for each probe predicate
    (point user × 24-hour window), how many files — and an upper bound
    on rows — a zone-map-consulting reader must touch under the
    Z-ordered layout (``zorder_files``) vs the arrival-time baseline
    (``timeorder_files``). This is the table that justifies paying for
    the clustering write: at 100 TB the stats tables stay
    file-dimension-sized (even 10^6 files is a dimension), the probe
    grid is a literal, and every join below broadcasts — the audit
    never touches the corpus beyond the two stats scans.

    A file is touched iff the predicate intersects its [min, max] box
    on BOTH dimensions; probes with zero matching files keep their row
    (conditional sum over the cross join, not a filter+group)."""
    zs = zorder_files(spark, sf_dir)
    ts = timeorder_files(spark, sf_dir)
    pdf = local_frame(
        spark,
        [tuple(int(x) for x in p) for p in probes],
        "pred_user int, hour_lo int, hour_hi int",
    )

    def audit(stats: DataFrame, fcol: str, rcol: str) -> DataFrame:
        hit = (
            (F.col("max_user") >= F.col("pred_user"))
            & (F.col("min_user") <= F.col("pred_user"))
            & (F.col("max_hour") >= F.col("hour_lo"))
            & (F.col("min_hour") <= F.col("hour_hi"))
        )
        return (
            F.broadcast(pdf)
            .crossJoin(stats)
            .groupBy("pred_user", "hour_lo", "hour_hi")
            .agg(
                F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias(fcol),
                F.sum(F.when(hit, F.col("n_rows")).otherwise(0))
                .cast("long")
                .alias(rcol),
            )
        )

    return audit(zs, "files_z", "rows_z").join(
        audit(ts, "files_t", "rows_t"),
        ["pred_user", "hour_lo", "hour_hi"],
    )


def duck_zonemap_prune(
    probes: tuple[tuple[int, int, int], ...] = PRUNE_PROBES,
) -> str:
    """Oracle: identical stats bodies, probe VALUES grid, intersection
    rule, and conditional-sum audit."""
    values = ", ".join(f"({u}, {lo}, {hi})" for u, lo, hi in probes)
    audit = """
            SELECT pred_user, hour_lo, hour_hi,
                   SUM(CASE WHEN max_user >= pred_user
                             AND min_user <= pred_user
                             AND max_hour >= hour_lo
                             AND min_hour <= hour_hi THEN 1 ELSE 0 END
                   ) AS files_{tag},
                   SUM(CASE WHEN max_user >= pred_user
                             AND min_user <= pred_user
                             AND max_hour >= hour_lo
                             AND min_hour <= hour_hi THEN n_rows
                            ELSE 0 END) AS rows_{tag}
            FROM probes, {stats}
            GROUP BY 1, 2, 3
    """
    return f"""
        WITH probes(pred_user, hour_lo, hour_hi) AS (VALUES {values}),
        zstats AS ({duck_zorder_files()}),
        tstats AS (
            {_timeorder_stats_sql("events", "epoch_us(ts) // 1000000", "//")}
        ),
        za AS ({audit.format(tag="z", stats="zstats")}),
        ta AS ({audit.format(tag="t", stats="tstats")})
        SELECT za.pred_user, za.hour_lo, za.hour_hi,
               CAST(files_z AS BIGINT) AS files_z,
               CAST(rows_z AS BIGINT) AS rows_z,
               CAST(files_t AS BIGINT) AS files_t,
               CAST(rows_t AS BIGINT) AS rows_t
        FROM za JOIN ta USING (pred_user, hour_lo, hour_hi)
    """
