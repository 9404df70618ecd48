package perfbench

import java.io.File
import java.time.LocalDate
import java.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.delta.DeltaTable
import graft.hudi.HudiTable
import graft.iceberg.IcebergTable
import graft.sync.SyncEngine

/** A seeded stand-in for TPC-H `lineitem`: same columns and types, one
  * week of ship dates per slice, so each slice is one append and a date
  * range touches few files. */
object Lineitem {
  val Columns: Seq[String] = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate", "l_commitdate", "l_receiptdate", "l_shipinstruct", "l_shipmode",
    "l_comment")
  val Modes: Seq[String] = Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  val Start: LocalDate = LocalDate.of(1995, 1, 1)
  val OrderKeys = 6000000L

  def generate(spark: SparkSession, path: String, seed: Long, slices: Int, rows: Int): Unit = {
    def h(k: Int) = s"xxhash64(id, ${seed}L, $k)"
    def pick(values: Seq[String], k: Int) =
      s"element_at(array(${values.map(v => s"'$v'").mkString(",")}), " +
        s"cast(pmod(${h(k)}, ${values.size}) as int) + 1)"
    val ship = s"date_add(date'$Start', cast(id div $rows as int) * 7 + cast(pmod(${h(11)}, 7) as int))"
    spark.range(0L, slices.toLong * rows, 1L, 4).selectExpr(
      s"cast(id div $rows as int) as slice",
      s"pmod(${h(1)}, $OrderKeys) as l_orderkey",
      s"pmod(${h(2)}, 200000) as l_partkey",
      s"pmod(${h(3)}, 10000) as l_suppkey",
      s"cast(pmod(${h(4)}, 7) + 1 as int) as l_linenumber",
      s"cast(pmod(${h(5)}, 50) + 1 as decimal(12,2)) as l_quantity",
      s"cast(cast(pmod(${h(6)}, 10000000) as decimal(12,0)) / 100 as decimal(12,2)) as l_extendedprice",
      s"cast(cast(pmod(${h(7)}, 11) as decimal(12,0)) / 100 as decimal(12,2)) as l_discount",
      s"cast(cast(pmod(${h(8)}, 9) as decimal(12,0)) / 100 as decimal(12,2)) as l_tax",
      s"${pick(Seq("A", "N", "R"), 9)} as l_returnflag",
      s"${pick(Seq("F", "O"), 10)} as l_linestatus",
      s"$ship as l_shipdate",
      s"date_add($ship, cast(pmod(${h(12)}, 60) as int) - 30) as l_commitdate",
      s"date_add($ship, cast(pmod(${h(13)}, 30) as int) + 1) as l_receiptdate",
      s"${pick(Seq("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"), 14)} as l_shipinstruct",
      s"${pick(Modes, 15)} as l_shipmode",
      s"substring(sha2(cast(${h(16)} as string), 256), 1, cast(pmod(${h(17)}, 30) as int) + 10) as l_comment")
      .write.mode("overwrite").partitionBy("slice").parquet(path)
  }

  /** Row count plus an order-independent content hash, as one row. */
  def countHash(df: DataFrame): DataFrame =
    df.select(xxhash64(Columns.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(BigDecimal(0)).cast("decimal(38,0)")))

  def q1(df: DataFrame, cutoff: LocalDate): DataFrame = {
    val price = col("l_extendedprice") * (lit(1) - col("l_discount"))
    df.where(col("l_shipdate") <= lit(java.sql.Date.valueOf(cutoff)))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity"), sum("l_extendedprice"), sum(price),
        sum(price * (lit(1) + col("l_tax"))), count(lit(1)))
  }

  /** [[q1]] for several cutoffs in one pass, per `slice` and group: five
    * sums per cutoff, the last a row count. */
  def q1Cutoffs(df: DataFrame, cutoffs: Seq[LocalDate]): DataFrame = {
    val price = col("l_extendedprice") * (lit(1) - col("l_discount"))
    df.groupBy("slice", "l_returnflag", "l_linestatus").agg(count(lit(1)), cutoffs.flatMap { c =>
      val in = col("l_shipdate") <= lit(java.sql.Date.valueOf(c))
      Seq(sum(when(in, col("l_quantity"))), sum(when(in, col("l_extendedprice"))),
        sum(when(in, price)), sum(when(in, price * (lit(1) + col("l_tax")))),
        sum(when(in, 1L).otherwise(0L)))
    }: _*)
  }

  /** The sum of per-slice (count, hash) answers over the first `n` slices. */
  def upTo(perSlice: Seq[(Long, BigDecimal)], n: Int): (Long, BigDecimal) =
    perSlice.take(n).foldLeft((0L, BigDecimal(0)))((a, b) => (a._1 + b._1, a._2 + b._2))

  /** Exact, scale-insensitive rendering of a result row. */
  def canon(r: Row): String = r.toSeq.map {
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case v => String.valueOf(v)
  }.mkString("|")
}

/** Files a finished query scanned against the files its index offered. */
object ScanStats extends AdaptiveSparkPlanHelper {
  def of(df: DataFrame): (Long, Long) = {
    val scans = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    (scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum,
      scans.map(_.relation.location.inputFiles.length.toLong).sum)
  }
}

/**
 * The reader side of the sync contract. A Delta table of `lineitem`
 * partitioned by `l_shipmode` is built one slice per append and synced
 * to Iceberg and Hudi; the Iceberg copy feeds a second Delta table so
 * every target format has a pair. After `warmupPasses` untimed passes of
 * reads, the timed part runs a closed loop of reads over Delta, Iceberg
 * and Hudi for the given seconds, while `syncSlices` more slices land
 * at even steps of it: each appended to Delta (untimed) and synced
 * incrementally along every pair (timed). Spreading the syncs over the
 * window lets them sample the host as long as the reads do. Every read
 * opens its table fresh and is checked against answers computed from
 * the raw parquet with plain Spark for the slices the table then holds.
 */
final class ServeReads(
    spark: SparkSession, seed: Long, rowsPerSlice: Int, setupSlices: Int, syncSlices: Int,
    warmupPasses: Int) extends Workload {

  private val total = setupSlices + syncSlices
  private val Kinds = Seq("point", "range", "q1", "travel", "changes")
  private val Pairs = Seq(
    Pair("delta", "delta", "iceberg", "iceberg"),
    Pair("delta", "delta", "hudi", "hudi"),
    Pair("iceberg", "iceberg", "delta", "delta2"))

  private var raw: String = _
  private var root: String = _
  private var points: IndexedSeq[(String, Long)] = _
  private var ranges: IndexedSeq[LocalDate] = _
  private var cutoffs: IndexedSeq[LocalDate] = _
  // expected (count, hash) per parameter and slice, and per slice
  private var pointExp: IndexedSeq[IndexedSeq[(Long, BigDecimal)]] = _
  private var rangeExp: IndexedSeq[IndexedSeq[(Long, BigDecimal)]] = _
  private var sliceExp: IndexedSeq[(Long, BigDecimal)] = _
  /** Expected Q1 rows by (slices present, cutoff). */
  private var q1Exp: Map[(Int, Int), Set[String]] = _

  private def pointPred(p: (String, Long)): Column =
    col("l_shipmode") === p._1 && col("l_orderkey").between(p._2, p._2 + Lineitem.OrderKeys / 100)
  private def rangePred(d: LocalDate): Column =
    col("l_shipdate").between(java.sql.Date.valueOf(d), java.sql.Date.valueOf(d.plusDays(2)))
  private def slice(k: Int): DataFrame = spark.read.parquet(s"$raw/slice=$k").coalesce(1)
  private def pair(a: Row): (Long, BigDecimal) = (a.getLong(0), BigDecimal(a.getDecimal(1)))

  /** Read parameters come from the seed only where they do not change a
    * read's cost, so every seed runs the same mix: point reads rotate
    * over the ship modes, ranges span three days, Q1 cutoffs sit in the
    * last weeks, and time travel and change reads cycle through every
    * version. */
  override def prepare(dir: String): Unit = {
    raw = s"$dir/raw"
    Lineitem.generate(spark, raw, seed, total, rowsPerSlice)
    val rng = new Random(seed)
    val days = total * 7
    points = (0 until 6).map(i =>
      (Lineitem.Modes(i), (rng.nextDouble() * Lineitem.OrderKeys * 0.99).toLong))
    ranges = IndexedSeq.fill(6)(Lineitem.Start.plusDays(rng.nextInt(days - 2).toLong))
    cutoffs = (0 until 3).map(i => Lineitem.Start.plusDays((days - 1 - 7 * i).toLong))

    // the expected answers per slice, from the raw parquet in two plain
    // Spark jobs; a table that holds slices 0..k-1 sums the first k
    val all = spark.read.parquet(raw)
      .withColumn("h", xxhash64(Lineitem.Columns.map(col): _*).cast("decimal(38,0)"))
    val zero = lit(0).cast("decimal(38,0)")
    val preds = points.map(pointPred) ++ ranges.map(rangePred)
    val bySlice = all.groupBy("slice").agg(count(lit(1)), sum("h") +: preds.flatMap(p =>
      Seq(sum(when(p, 1L).otherwise(0L)), sum(when(p, col("h")).otherwise(zero)))): _*)
      .collect().map(r => r.getInt(0) -> r).toMap
    val rows = (0 until total).map(bySlice)
    def at(i: Int) = rows.map(r => (r.getLong(i), BigDecimal(r.getDecimal(i + 1))))
    sliceExp = at(1)
    val exp = preds.indices.map(i => at(3 + 2 * i))
    pointExp = exp.take(points.size)
    rangeExp = exp.drop(points.size)
    // columns: slice, flag, status, row count, then five per cutoff
    val q1 = Lineitem.q1Cutoffs(all, cutoffs).collect().toSeq
    q1Exp = (for (k <- setupSlices to total; i <- cutoffs.indices) yield (k, i) -> {
      val base = 4 + 5 * i
      q1.filter(_.getInt(0) < k).groupBy(r => (r.getString(1), r.getString(2))).toSeq.flatMap {
        case ((flag, status), rs) =>
          val sums = (base until base + 4).map(j =>
            rs.flatMap(r => Option(r.getDecimal(j))).map(BigDecimal(_)).sum.bigDecimal)
          val n = rs.map(r => if (r.isNullAt(base + 4)) 0L else r.getLong(base + 4)).sum
          if (n == 0) None else Some(Lineitem.canon(Row.fromSeq(Seq(flag, status) ++ sums :+ n)))
      }.toSet
    }).toMap
  }

  private def path(name: String) = s"$root/$name"
  private def syncPairs(mode: SyncEngine.Mode): Unit = Pairs.foreach { p =>
    SyncEngine.sync(SyncEngine.sourceFor(spark, p.srcFmt, path(p.src)),
      SyncEngine.targetFor(spark, p.tgtFmt, path(p.tgt)), mode)
  }

  def setup(dir: String): Unit = {
    root = dir
    DeltaTable.create(spark, path("delta"), slice(0), Seq("l_shipmode"))
    syncPairs(SyncEngine.Full)
    (1 until setupSlices).foreach { k =>
      DeltaTable.forPath(spark, path("delta")).append(slice(k), Seq("l_shipmode"))
    }
    syncPairs(SyncEngine.Auto)
  }

  private def dataFiles(dir: File): Int =
    if (dir.isDirectory) {
      if (dir.getName.startsWith("_") || dir.getName.startsWith(".")) 0
      else Option(dir.listFiles).toSeq.flatten.map(dataFiles).sum
    } else if (dir.getName.endsWith(".parquet")) 1 else 0

  /** Version k of every table holds slices 0..k: one target commit per
    * source commit. */
  private def versions(present: Int): Map[String, Seq[String]] = {
    val vs = Map(
      "delta" -> (0 until present).map(_.toString),
      "iceberg" -> IcebergTable.forPath(spark, path("iceberg")).snapshotIds.map(_.toString),
      "hudi" -> HudiTable.forPath(spark, path("hudi")).instants)
    vs.foreach { case (f, v) =>
      require(v.size == present, s"$f table has ${v.size} versions, expected $present")
    }
    vs
  }

  /** Append slice `k` to Delta (untimed) and sync it along every pair. */
  private def land(ctx: Ctx, k: Int): Unit = {
    ctx.round = k
    val before = dataFiles(new File(path("delta")))
    DeltaTable.forPath(spark, path("delta")).append(slice(k), Seq("l_shipmode"))
    val written = dataFiles(new File(path("delta"))) - before
    Pairs.foreach { p =>
      ctx.sync(p.label, SyncEngine.sourceFor(spark, p.srcFmt, path(p.src)),
        p.tgtFmt, path(p.tgt), SyncEngine.Auto, "incremental", written, 0)
    }
  }

  def run(ctx: Ctx, seconds: Int): Unit = {
    val pass = 3 * Kinds.size
    var present = setupSlices
    var vs = versions(present)
    def readAt(c: Ctx, n: Int): Unit = {
      val fmt = Ctx.Formats(n % 3)
      read(c, fmt, Kinds((n / 3) % Kinds.size), vs(fmt), present, n / pass)
    }
    // untimed passes over every format and kind warm the read path; the
    // timed loop starts again at the first pass, so it re-reads the
    // parameters the warm-up has planned
    val warm = new Ctx(spark, new Tracer(spark, enabled = false))
    (0 until warmupPasses * pass).foreach(readAt(warm, _))
    // slice `present` lands once its share of the window has passed
    val t0 = System.nanoTime()
    val windowNs = seconds * 1000000000L
    var n = 0
    while (present < total || n < pass || System.nanoTime() - t0 < windowNs) {
      if (present < total &&
          System.nanoTime() - t0 >= (present - setupSlices) * windowNs / syncSlices) {
        land(ctx, present)
        present += 1
        vs = versions(present)
      }
      readAt(ctx, n)
      n += 1
    }
  }

  private def read(
      ctx: Ctx, fmt: String, kind: String, versions: Seq[String], present: Int,
      pass: Int): Unit = {
    val tr = ctx.tracer
    val table = path(fmt)
    def load(asOf: Option[String]): DataFrame = {
      val r = spark.read.format("graft")
      asOf.fold(r)(v => r.option("versionAsOf", v)).load(table)
    }
    /** open → plan → exec, each its own span; checked by count + hash. */
    def rows(label: String, open: => DataFrame, shape: DataFrame => DataFrame,
        expected: (Long, BigDecimal)): Unit =
      ctx.op("read", fmt, label) {
        val df = tr.span(s"$fmt.open")(open)
        val q = tr.span(s"$fmt.plan") {
          val q = Lineitem.countHash(shape(df))
          q.queryExecution.executedPlan
          q
        }
        (q, tr.span(s"$fmt.exec")(q.collect().head))
      } { case (q, row) => o =>
        require(pair(row) == expected, s"$fmt $label: got ${pair(row)}, expected $expected")
        val (scanned, offered) = ScanStats.of(q)
        o.copy(scanFiles = scanned, liveFiles = offered)
      }
    kind match {
      case "point" =>
        val i = pass % points.size
        rows(s"point$i", load(None), _.where(pointPred(points(i))),
          Lineitem.upTo(pointExp(i), present))
      case "range" =>
        val i = pass % ranges.size
        rows(s"range$i", load(None), _.where(rangePred(ranges(i))),
          Lineitem.upTo(rangeExp(i), present))
      case "travel" =>
        val v = pass % (present - 1)
        rows(s"travel$v", load(Some(versions(v))), identity, Lineitem.upTo(sliceExp, v + 1))
      case "changes" =>
        val a = pass % (present - 1)
        val b = a + 1
        val exp = sliceExp(b)
        rows(s"changes$a-$b", fmt match {
          case "delta" => DeltaTable.forPath(spark, table).changesAsDF(a.toLong, b.toLong)
          case "iceberg" =>
            IcebergTable.forPath(spark, table).changesAsDF(versions(a).toLong, versions(b).toLong)
          case "hudi" => HudiTable.forPath(spark, table).changesAsDF(versions(a), versions(b))
        }, identity, exp)
      case "q1" =>
        val i = pass % cutoffs.size
        val exp = q1Exp((present, i))
        ctx.op("read", fmt, s"q1-$i") {
          val df = tr.span(s"$fmt.open")(load(None))
          val q = tr.span(s"$fmt.plan") {
            val q = Lineitem.q1(df, cutoffs(i))
            q.queryExecution.executedPlan
            q
          }
          (q, tr.span(s"$fmt.exec")(q.collect()))
        } { case (q, got) => o =>
          val canon = got.map(Lineitem.canon).toSet
          require(canon == exp && got.length == exp.size,
            s"$fmt q1-$i: got ${canon.toSeq.sorted}, expected ${exp.toSeq.sorted}")
          val (scanned, offered) = ScanStats.of(q)
          o.copy(scanFiles = scanned, liveFiles = offered)
        }
    }
  }
}
