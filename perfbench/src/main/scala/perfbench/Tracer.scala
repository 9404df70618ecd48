package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One closed span: a call into a layer, timed from the benchmark side.
  * Counter fields hold the span's totals, children included. */
final case class Span(
    id: Int,
    parent: Int,
    name: String,
    call: String,
    startNs: Long,
    endNs: Long,
    fsReadOps: Long,
    fsWriteOps: Long,
    bytesWritten: Long,
    allocBytes: Long) {
  def durNs: Long = endNs - startNs
}

/**
 * Spans and counters recorded around calls into the engine's public
 * functions. A disabled tracer runs the body and records nothing, so the
 * untraced run measures the engine without bookkeeping; it never touches
 * the session.
 *
 * - Spark jobs and tasks are attributed to the innermost open span
 *   through a job group the tracer sets for the span's duration.
 * - FS operations and bytes written are deltas of process-wide
 *   counters that every thread of this JVM (local executors too)
 *   updates; see [[Tracer.fsCounters]].
 * - Allocation is the client thread's own allocated bytes.
 *
 * One client thread drives the engine, so spans nest as a stack.
 */
final class Tracer(spark: SparkSession, val enabled: Boolean) {

  private lazy val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val jobs = new ConcurrentHashMap[Int, Integer]()
  private val tasks = new ConcurrentHashMap[Int, Integer]()
  private val stageSpan = new ConcurrentHashMap[Int, Integer]()
  private val markers = new ConcurrentHashMap[String, CountDownLatch]()
  private val markerJobs = new ConcurrentHashMap[Int, String]()
  private var casRetries = 0L

  private val GroupPrefix = "perfbench-span-"
  private val MarkerPrefix = "perfbench-marker-"
  private val threadMx = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (group != null && group.startsWith(GroupPrefix)) {
        val id = group.substring(GroupPrefix.length).toInt
        jobs.merge(id, 1, (a, b) => a + b)
        e.stageIds.foreach(s => stageSpan.put(s, id))
      } else if (group != null && group.startsWith(MarkerPrefix)) {
        markerJobs.put(e.jobId, group)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = stageSpan.get(e.stageId)
      if (id != null) tasks.merge(id, 1, (a, b) => a + b)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(markerJobs.remove(e.jobId)).flatMap(g => Option(markers.get(g)))
        .foreach(_.countDown())
  }
  if (enabled) sc.addSparkListener(listener)

  /** Run `f` as a span named `name` (`<module>.<part>`); `call` names the
    * function called, for the span file. */
  def span[A](name: String, call: String = "")(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      stack = id :: stack
      sc.setLocalProperty("spark.jobGroup.id", GroupPrefix + id)
      val fs0 = Tracer.fsCounters()
      val alloc0 = threadMx.getCurrentThreadAllocatedBytes
      val t0 = System.nanoTime()
      try f
      catch {
        case e: graft.model.ConcurrentSyncException =>
          // the engine re-plans on this type; an escape through a wrapped
          // call is one lost watermark CAS
          casRetries += 1
          throw e
      } finally {
        val t1 = System.nanoTime()
        val alloc1 = threadMx.getCurrentThreadAllocatedBytes
        val fs1 = Tracer.fsCounters()
        stack = stack.tail
        sc.setLocalProperty("spark.jobGroup.id", prevGroup)
        spans += Span(id, parent, name, call, t0, t1,
          fs1(0) - fs0(0), fs1(1) - fs0(1), fs1(2) - fs0(2), alloc1 - alloc0)
      }
    }

  /** Wait until the listener has seen every job launched so far: a
    * marker job's end event queues behind all earlier events. */
  def drain(): Unit = if (enabled) {
    val group = MarkerPrefix + System.nanoTime()
    val latch = new CountDownLatch(1)
    markers.put(group, latch)
    val prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty("spark.jobGroup.id", prev)
    require(latch.await(60, TimeUnit.SECONDS), "Spark listener did not drain within 60 s")
    markers.remove(group)
  }

  def closed: Seq[Span] = spans.toSeq
  def jobsOf(id: Int): Int = Option(jobs.get(id)).map(_.intValue).getOrElse(0)
  def tasksOf(id: Int): Int = Option(tasks.get(id)).map(_.intValue).getOrElse(0)
  def casRetryCount: Long = casRetries

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Tracer {
  /** (read ops, write ops, bytes written). Operation counts come from
    * [[CountingFileSystem]], bytes from Hadoop's global storage
    * statistics over every scheme this JVM has used. */
  def fsCounters(): Array[Long] = {
    var written = 0L
    FileSystem.getGlobalStorageStatistics.iterator.asScala.foreach { s =>
      written += Option(s.getLong("bytesWritten")).map(_.longValue).getOrElse(0L)
    }
    Array(CountingFileSystem.readOps.get, CountingFileSystem.writeOps.get, written)
  }
}
