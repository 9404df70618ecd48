package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.delta.DeltaTable
import graft.hudi.HudiTable
import graft.iceberg.IcebergTable
import graft.sync.{SyncEngine, SyncSource, SyncTarget}

/** One timed operation of the closed loop. `fmt` is the target format of
  * a sync and the read table's format of a read; `src` is a sync's
  * source format. A failed operation carries no time sample. */
final case class Op(
    kind: String,
    fmt: String,
    label: String,
    ns: Long,
    ok: Boolean,
    round: Int = 0,
    files: Long = 0L,
    metaBytes: Long = 0L,
    scanFiles: Long = 0L,
    liveFiles: Long = 0L,
    src: String = "")

/** Everything a workload needs to issue operations. */
final class Ctx(val spark: SparkSession, val tracer: Tracer) {

  val ops = ArrayBuffer.empty[Op]
  /** The workload's current round; each operation records it. */
  var round = 0

  def source(s: SyncSource): SyncSource = if (tracer.enabled) new TracedSource(s, tracer) else s
  def target(t: SyncTarget): SyncTarget = if (tracer.enabled) new TracedTarget(t, tracer) else t

  /**
   * Time `body`, then run `check` on its result outside the timed
   * interval. A throw from either marks the operation failed: it is
   * counted, never timed.
   */
  def op[A](kind: String, fmt: String, label: String)(body: => A)(check: A => Op => Op): Op = {
    val t0 = System.nanoTime()
    val result =
      try {
        val a = body
        val ns = System.nanoTime() - t0
        check(a)(Op(kind, fmt, label, ns, ok = true, round))
      } catch {
        case e: Throwable if scala.util.control.NonFatal(e) || e.isInstanceOf[AssertionError] =>
          System.err.println(s"perfbench: $kind $label failed: $e")
          Op(kind, fmt, label, 0L, ok = false, round)
      }
    ops += result
    result
  }

  /**
   * One sync through [[SyncEngine.sync]], checked for its mode and exact
   * add and remove counts. `metaBytes` is what the target's directory
   * grew by: only metadata, since a sync never writes data files.
   */
  def sync(label: String, src: => SyncSource, tgtFmt: String, tgtPath: String,
      mode: SyncEngine.Mode, expectMode: String, adds: Int, removes: Int): Op = {
    val before = Ctx.dirBytes(new File(tgtPath))
    var srcFmt = ""
    op("sync", tgtFmt, label) {
      val s = source(src)
      srcFmt = s.format
      val t = target(SyncEngine.targetFor(spark, tgtFmt, tgtPath))
      tracer.span("sync")(SyncEngine.sync(s, t, mode))
    } { r => o =>
      require(r.mode == expectMode && r.filesAdded == adds && r.filesRemoved == removes,
        s"$label: got ${r.mode} +${r.filesAdded} -${r.filesRemoved}, " +
          s"expected $expectMode +$adds -$removes")
      o.copy(files = (r.filesAdded + r.filesRemoved).toLong,
        metaBytes = Ctx.dirBytes(new File(tgtPath)) - before, src = srcFmt)
    }
  }

  /** Open a synced table fresh and list its live files, checked against
    * the path set the workload generated. */
  def listing(fmt: String, path: String, expected: Set[String]): Op =
    op("read", fmt, s"list:${new File(path).getName}") {
      val files = fmt match {
        case "delta" =>
          val t = tracer.span("delta.open")(DeltaTable.forPath(spark, path))
          tracer.span("delta.plan")(t.snapshotDataFiles())
        case "iceberg" =>
          val t = tracer.span("iceberg.open")(IcebergTable.forPath(spark, path))
          tracer.span("iceberg.plan")(t.snapshotDataFiles())
        case "hudi" =>
          val t = tracer.span("hudi.open")(HudiTable.forPath(spark, path))
          tracer.span("hudi.plan")(t.snapshotDataFiles())
      }
      files
    } { files => o =>
      val got = files.map(f => Ctx.norm(f.physicalPath)).toSet
      require(got == expected && files.size == expected.size,
        s"$path lists ${got.size} live files, expected ${expected.size} " +
          s"(missing ${(expected -- got).take(3)}, extra ${(got -- expected).take(3)})")
      o
    }
}

object Ctx {
  val Formats: Seq[String] = Seq("hudi", "delta", "iceberg")

  /** Scheme-free absolute path, the form path sets are compared in. */
  def norm(p: String): String = new Path(p).toUri.getPath

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else if (f.isFile) f.length
    else 0L

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
