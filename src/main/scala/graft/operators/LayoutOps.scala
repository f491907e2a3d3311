package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Tables.SmallResult

/** Multi-dimensional data LAYOUT for scan pruning — the write-side
  * optimization that matters most at 100 TB: a table range-sorted by a
  * Z-order (Morton) curve key co-locates rows that are close in EVERY
  * interleaved dimension, so file- and row-group-level min/max
  * statistics prune scans for predicates on ANY of those dimensions
  * (one sort order serving several columns — the technique behind
  * Delta OPTIMIZE ZORDER BY / Iceberg sort orders; curve math per
  * Morton 1966, applied as in the Delta/Iceberg docs).
  *
  * The curve key itself is the fused codegen ZOrderKey expression —
  * plain integer bit arithmetic, so the DuckDB oracle recomputes the
  * identical key and the x30 layout audit hash-matches end to end.
  */
object LayoutOps {

  /** Output curve width = 2 × ZOrderKey.Bits. */
  val ZBits: Int = 2 * graft.plans.ZOrderKey.Bits
  /** Top-of-curve bits that define an x30 audit bucket (64 buckets). */
  val BucketBits = 6

  /** Z-order curve key of two non-negative integer columns. */
  def zOrderKey(x: Column, y: Column): Column = {
    call_function(graft.plans.GraftExpressions.ZOrderFn,
      x.cast("long"), y.cast("long"))
  }

  /** Write `df` Z-ordered on (x, y): range-partition by the curve key
    * (each output file owns a contiguous, non-overlapping z-range) and
    * sort rows within each file, so parquet min/max stats on BOTH
    * source columns become tight per file. This is a one-shuffle
    * layout pass — the write-amplification is the range exchange plus
    * a one-row stats aggregate, paid once, amortized over every pruned
    * scan after it.
    *
    * Both dimensions are min/max-NORMALIZED onto [0, 2^Bits) with the
    * same exact integer arithmetic the x30 audit uses (and for the
    * same reason Delta OPTIMIZE ZORDER interleaves range-ids, not raw
    * values): ZOrderKey interleaves the low Bits bits only, so a raw
    * dimension whose domain exceeds 2^Bits would collide values p and
    * p + 2^Bits onto one curve point — the per-file min/max span on
    * that column would silently cover nearly the whole domain and the
    * pruning promise above would fail. */
  def writeZOrdered(df: DataFrame, x: Column, y: Column,
                    path: String, files: Int): Unit = {
    import org.apache.spark.sql.functions.{min => fmin, max => fmax}
    val keyed = df.withColumn("__zx", x.cast("long"))
      .withColumn("__zy", y.cast("long"))
    val stats = keyed.agg(
      fmin(col("__zx")).as("__mnx"), fmax(col("__zx")).as("__mxx"),
      fmin(col("__zy")).as("__mny"), fmax(col("__zy")).as("__mxy"))
    val scale = 1L << graft.plans.ZOrderKey.Bits
    val xn = expr(s"(__zx - __mnx) * ${scale}L div (__mxx - __mnx + 1L)")
    val yn = expr(s"(__zy - __mny) * ${scale}L div (__mxy - __mny + 1L)")
    keyed.crossJoin(broadcast(stats))
      .withColumn("__zkey", zOrderKey(xn, yn))
      .repartitionByRange(files, col("__zkey"))
      .sortWithinPartitions(col("__zkey"))
      .drop("__zkey", "__zx", "__zy", "__mnx", "__mxx", "__mny", "__mxy")
      .write.mode("overwrite").parquet(path)
  }

  /** x30 — Z-order layout audit over lineitem (l_partkey × l_suppkey):
    * both dimensions are min/max-NORMALIZED onto the curve's
    * per-dimension domain [0, 2^Bits) with exact integer arithmetic —
    * (x − min) · 2^Bits div (max − min + 1). Z-ordering RAW values
    * wastes the curve on empty space whenever a dimension's domain is
    * smaller than 2^Bits (every top bit constant → every row in one
    * bucket) or larger (high bits ignored) — which is why real layout
    * optimizers (Delta OPTIMIZE ZORDER) interleave range-ids computed
    * from column stats, not raw values. The stats are a one-row
    * aggregate, broadcast — the same stats-collection pass OPTIMIZE
    * runs.
    *
    * The audit assigns every normalized row its curve bucket (top
    * BucketBits of the z-key) and reports
    * per-bucket row counts plus the min/max of BOTH raw dimensions —
    * the exact statistics a pruning reader consults. The per-bucket
    * spans demonstrate the locality guarantee (fixing the top 2k curve
    * bits bounds each dimension's span to domain/2^k); LayoutSpec
    * asserts it structurally. Bounded output (≤ 2^BucketBits buckets
    * at any corpus size), one stats row + one aggregate. */
  def zorderLayout(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d).select($"l_partkey", $"l_suppkey")
    val stats = li.agg(
      min($"l_partkey").as("mnp"), max($"l_partkey").as("mxp"),
      min($"l_suppkey").as("mns"), max($"l_suppkey").as("mxs"))
    val scale = 1L << graft.plans.ZOrderKey.Bits
    val xn = expr(s"(l_partkey - mnp) * ${scale}L div (mxp - mnp + 1L)")
    val yn = expr(s"(l_suppkey - mns) * ${scale}L div (mxs - mns + 1L)")
    li.crossJoin(broadcast(stats))
      .select($"l_partkey", $"l_suppkey",
        shiftright(zOrderKey(xn, yn), ZBits - BucketBits).as("bucket"))
      .groupBy($"bucket")
      .agg(count("*").as("n_rows"),
           min($"l_partkey").as("min_part"), max($"l_partkey").as("max_part"),
           min($"l_suppkey").as("min_supp"), max($"l_suppkey").as("max_supp"))
      .smallOrdered($"bucket")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x30_zorder_layout" -> zorderLayout _,
  )

  /** The 32-term interleave as SQL bit arithmetic over the normalized
    * coordinates, generated from the same Bits constant the Spark
    * expression compiles in. */
  private val zSql: String =
    (0 until graft.plans.ZOrderKey.Bits).map(i =>
      s"((((xn >> $i) & 1) << ${2 * i}) | " +
        s"(((yn >> $i) & 1) << ${2 * i + 1}))")
      .mkString(" | ")

  val oracleSql: Map[String, String] = Map(
    "x30_zorder_layout" ->
      s"""WITH st AS (SELECT min(l_partkey) AS mnp, max(l_partkey) AS mxp,
         |    min(l_suppkey) AS mns, max(l_suppkey) AS mxs FROM lineitem),
         |nrm AS (SELECT l_partkey, l_suppkey,
         |    (l_partkey - mnp) * ${1L << graft.plans.ZOrderKey.Bits} // (mxp - mnp + 1) AS xn,
         |    (l_suppkey - mns) * ${1L << graft.plans.ZOrderKey.Bits} // (mxs - mns + 1) AS yn
         |  FROM lineitem CROSS JOIN st),
         |z AS (SELECT l_partkey, l_suppkey,
         |    ($zSql) >> ${ZBits - BucketBits} AS bucket
         |  FROM nrm)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(min(l_partkey) AS BIGINT) AS min_part,
         |  CAST(max(l_partkey) AS BIGINT) AS max_part,
         |  CAST(min(l_suppkey) AS BIGINT) AS min_supp,
         |  CAST(max(l_suppkey) AS BIGINT) AS max_supp
         |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin,
  )
}
