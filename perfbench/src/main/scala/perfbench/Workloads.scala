package perfbench

import java.io.File
import java.util.Random

import org.apache.spark.sql.SparkSession

import graft.hudi.HudiTable
import graft.sync.SyncEngine

/**
 * A benchmark workload. The engine only ever sees the tables the
 * workload generates from its seed.
 */
trait Workload {
  /** Make the inputs and the expected answers. Untimed: none of it is
    * engine work. */
  def prepare(dir: String): Unit = ()
  /** Engine-side set-up into a fresh `dir`, timed as `setup_s`. The
    * timed loop uses the tables of the last call. */
  def setup(dir: String): Unit
  /** The timed closed loop: whole rounds of operations until `seconds`
    * have passed, at least one. */
  def run(ctx: Ctx, seconds: Int): Unit
  /** Untimed work on its own tables in `dir`, so class loading, JIT and
    * Spark's code generation are done before anything is timed. A
    * workload that warms up inside [[run]] leaves this empty. */
  def warmup(ctx: Ctx, dir: String): Unit = ()
}

object Workload {
  val Names: Seq[String] = Seq("sync_load", "serve_reads")

  /** `tiny` is the smoke-test shape of the same workload. */
  def apply(name: String, tiny: Boolean, spark: SparkSession, seed: Long): Workload =
    name match {
      case "sync_load" =>
        if (tiny) new SyncLoad(spark, seed, commits = 2, partitions = 10, incCommits = 2, incFiles = 5,
          warmupRounds = 1)
        else new SyncLoad(spark, seed, commits = 1, partitions = 500, incCommits = 2, incFiles = 50,
          warmupRounds = 2)
      case "serve_reads" =>
        if (tiny) new ServeReads(spark, seed, rowsPerSlice = 500, setupSlices = 2, syncSlices = 2,
          warmupPasses = 1)
        else new ServeReads(spark, seed, rowsPerSlice = 5000, setupSlices = 2, syncSlices = 6,
          warmupPasses = 2)
      case other =>
        throw new IllegalArgumentException(
          s"unknown workload $other (expected one of ${Names.mkString(", ")})")
    }
}

/** One source→target pair of the sync chain: both table directories are
  * named relative to the workload root. */
final case class Pair(srcFmt: String, src: String, tgtFmt: String, tgt: String) {
  def label: String = s"$srcFmt->$tgtFmt"
}

object Pair {
  /** All six pairs in chain order: Hudi feeds Delta and Iceberg, which
    * then each feed the two other formats. */
  val Chain: Seq[Pair] = Seq(
    Pair("hudi", "src", "delta", "h2d"),
    Pair("hudi", "src", "iceberg", "h2i"),
    Pair("delta", "h2d", "iceberg", "d2i"),
    Pair("delta", "h2d", "hudi", "d2h"),
    Pair("iceberg", "h2i", "delta", "i2d"),
    Pair("iceberg", "h2i", "hudi", "i2h"))
}

/**
 * Both LoadTest legs at reduced size, every pair in chain order. A round
 * builds a fresh metadata-level Hudi source of `commits` × `partitions`
 * files (untimed), full-syncs it along the chain into fresh targets,
 * checkpoints the Delta targets as any Delta table past its tenth commit
 * is (untimed), appends `incCommits` commits of one new file in each of
 * `incFiles` partitions (untimed), the last a replacecommit of
 * `incFiles` of the first commit's groups, and syncs every pair
 * incrementally. The source and each synced table are then opened and
 * listed; the fabricated data files cannot be scanned. Rounds repeat the
 * same work however many fit; `warmupRounds` untimed ones run first.
 */
final class SyncLoad(
    spark: SparkSession, seed: Long, commits: Int, partitions: Int, incCommits: Int, incFiles: Int,
    warmupRounds: Int) extends Workload {

  private var root: String = _
  private var table: HudiTable = _
  private var groups: Seq[SyntheticHudi.Group] = Nil
  /** Rounds begun so far, warm-up included: names each round's fresh
    * directory. */
  private var begun = 0

  private def path(name: String) = s"$root/$name"

  def setup(dir: String): Unit = {
    root = dir
    table = SyntheticHudi.create(spark, path("src"))
    val rng = new Random(seed)
    groups = (0 until commits).flatMap(i =>
      SyntheticHudi.commit(table, 0 until partitions, s"c$i", rng))
  }

  override def warmup(ctx: Ctx, dir: String): Unit = {
    setup(dir)
    rounds(ctx, r => r >= warmupRounds)
  }

  def run(ctx: Ctx, seconds: Int): Unit = {
    val deadlineNs = System.nanoTime() + seconds * 1000000000L
    rounds(ctx, _ => System.nanoTime() >= deadlineNs)
  }

  /** Rounds until `done` holds for the number of rounds run, at least one. */
  private def rounds(ctx: Ctx, done: Int => Boolean): Unit = {
    var r = 0
    do {
      if (r > 0) {
        val prev = new File(root)
        setup(new File(prev.getParentFile, s"round$begun").getPath)
        Ctx.deleteTree(prev)
      }
      begun += 1
      ctx.round = r
      val base = Ctx.norm(new File(path("src")).getAbsolutePath)
      def abs(gs: Seq[SyntheticHudi.Group]) = gs.map(g => s"$base/${g.relPath}").toSet

      Pair.Chain.foreach { p =>
        ctx.sync(s"full ${p.label}", SyncEngine.sourceFor(spark, p.srcFmt, path(p.src)),
          p.tgtFmt, path(p.tgt), SyncEngine.Full, "full", groups.size, 0)
      }
      Pair.Chain.filter(_.tgtFmt == "delta").foreach(p =>
        graft.delta.DeltaTable.forPath(spark, path(p.tgt)).checkpoint())

      val replaced = groups.take(incFiles)
      val rng = new Random(seed + 1)
      val added = (1 to incCommits).flatMap { i =>
        SyntheticHudi.commit(table, 0 until incFiles, s"i$i", rng,
          if (i == incCommits) replaced else Nil)
      }
      Pair.Chain.foreach { p =>
        ctx.sync(s"incremental ${p.label}", SyncEngine.sourceFor(spark, p.srcFmt, path(p.src)),
          p.tgtFmt, path(p.tgt), SyncEngine.Auto, "incremental", added.size, replaced.size)
      }
      val live = abs(groups.drop(incFiles) ++ added)
      ctx.listing("hudi", path("src"), live)
      Pair.Chain.foreach(p => ctx.listing(p.tgtFmt, path(p.tgt), live))
      r += 1
    } while (!done(r))
  }
}
