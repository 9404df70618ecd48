package perfbench

import java.io.File

/** Metric name → (value, unit). Names and units match BENCHMARK.json. */
object Metrics {

  type Table = Map[String, (Double, String)]

  /** What a user of the engine sees; only successful operations give
    * time samples. */
  def endToEnd(ops: Seq[Op], setupS: Double): Table = {
    val syncs = ops.filter(o => o.kind == "sync" && o.ok)
    val reads = ops.filter(o => o.kind == "read" && o.ok)
    val syncS = syncs.map(_.ns).sum / 1e9
    val files = syncs.map(_.files).sum.toDouble
    val readMs = reads.map(_.ns / 1e6)
    // seconds a round spends syncing into format f, mean over rounds
    def toFormat(f: String) = {
      val into = syncs.filter(_.fmt == f)
      into.map(_.ns).sum / 1e9 / into.map(_.round).distinct.size
    }
    Map(
      "setup_s" -> (setupS, "s"),
      "sync_files_per_s" -> (files / syncS, "1/s"),
      "sync_to_delta_s" -> (toFormat("delta"), "s"),
      "sync_to_iceberg_s" -> (toFormat("iceberg"), "s"),
      "sync_to_hudi_s" -> (toFormat("hudi"), "s"),
      "meta_bytes_per_file" -> (syncs.map(_.metaBytes).sum / files, "bytes"),
      "read_ops_per_s" -> (reads.size / (readMs.sum / 1e3), "1/s"),
      "read_ms_p50" -> (Stats.percentile(readMs, 50), "ms"),
      "read_ms_p95" -> (Stats.percentile(readMs, 95), "ms"))
  }

  /** Per-layer values from the spans: self time and counts of every
    * `<format>.<part>` span, as means per operation that uses the part:
    * `source` per sync from the format, `state` and `commit` per sync
    * into it, `open`, `plan` and `exec` per read of it. */
  def perLayer(ops: Seq[Op], tr: Tracer): Table = {
    val spans = tr.closed
    val children = spans.groupBy(_.parent)
    final case class Agg(ns: Long, jobs: Long, tasks: Long, reads: Long, writes: Long,
        written: Long, alloc: Long)
    // self values: a span minus what its children already account for
    val self = spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
      s.name -> Agg(s.durNs - kids.map(_.durNs).sum, tr.jobsOf(s.id), tr.tasksOf(s.id),
        s.fsReadOps - kids.map(_.fsReadOps).sum, s.fsWriteOps - kids.map(_.fsWriteOps).sum,
        s.bytesWritten - kids.map(_.bytesWritten).sum, s.allocBytes - kids.map(_.allocBytes).sum)
    }.groupMapReduce(_._1)(_._2)((a, b) => Agg(a.ns + b.ns, a.jobs + b.jobs,
      a.tasks + b.tasks, a.reads + b.reads, a.writes + b.writes, a.written + b.written,
      a.alloc + b.alloc))
    val none = Agg(0, 0, 0, 0, 0, 0, 0)
    def per(p: Op => Boolean) = math.max(1, ops.count(p)).toDouble
    val nSync = per(_.kind == "sync")
    def agg(name: String) = self.getOrElse(name, none)

    val perFormat = Ctx.Formats.flatMap { f =>
      val src = agg(s"$f.source")
      val st = agg(s"$f.state")
      val cm = agg(s"$f.commit")
      val open = agg(s"$f.open")
      val plan = agg(s"$f.plan")
      val exec = agg(s"$f.exec")
      val nFrom = per(o => o.kind == "sync" && o.src == f)
      val nInto = per(o => o.kind == "sync" && o.fmt == f)
      val nRead = per(o => o.kind == "read" && o.fmt == f)
      val scanned = ops.filter(o => o.kind == "read" && o.ok && o.fmt == f)
      val offered = scanned.map(_.liveFiles).sum
      Seq(
        s"$f.source.ms" -> (src.ns / 1e6 / nFrom, "ms"),
        s"$f.source.jobs" -> (src.jobs / nFrom, "count"),
        s"$f.source.fs_read_ops" -> (src.reads / nFrom, "count"),
        s"$f.source.alloc_mb" -> (src.alloc / 1e6 / nFrom, "MB"),
        s"$f.state.ms" -> (st.ns / 1e6 / nInto, "ms"),
        s"$f.state.fs_read_ops" -> (st.reads / nInto, "count"),
        s"$f.commit.ms" -> (cm.ns / 1e6 / nInto, "ms"),
        s"$f.commit.jobs" -> (cm.jobs / nInto, "count"),
        s"$f.commit.fs_write_ops" -> (cm.writes / nInto, "count"),
        s"$f.commit.alloc_mb" -> (cm.alloc / 1e6 / nInto, "MB"),
        s"$f.commit.bytes_written" -> (cm.written / nInto, "bytes"),
        s"$f.open.ms" -> (open.ns / 1e6 / nRead, "ms"),
        s"$f.open.fs_read_ops" -> (open.reads / nRead, "count"),
        s"$f.plan.ms" -> (plan.ns / 1e6 / nRead, "ms"),
        s"$f.exec.ms" -> (exec.ns / 1e6 / nRead, "ms"),
        s"$f.exec.jobs" -> (exec.jobs / nRead, "count"),
        s"$f.exec.tasks" -> (exec.tasks / nRead, "count"),
        s"$f.scan.files_ratio" ->
          (if (offered == 0) 0.0 else scanned.map(_.scanFiles).sum.toDouble / offered, "ratio"))
    }
    val sync = agg("sync")
    (perFormat ++ Seq(
      "sync.self_ms" -> (sync.ns / 1e6 / nSync, "ms"),
      "sync.cas_retries" -> (tr.casRetryCount.toDouble, "count"))).toMap
  }

  /**
   * The tracing overhead: each end-to-end metric of this traced run as a
   * ratio to the median of the untraced runs of the same workload
   * recorded in `records` (empty until one exists).
   */
  def overhead(traced: Table, records: File, workload: String): Map[String, Any] = {
    val untraced = Option(records.listFiles).toSeq.flatten
      .filter(f => f.getName.startsWith(s"$workload-s") && f.getName.contains("-t0-") &&
        !f.getName.contains("-tiny"))
      .flatMap(f => RecordReader.endToEnd(new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")))
    if (untraced.isEmpty) Map("note" -> "no untraced run of this workload recorded yet")
    else traced.flatMap { case (k, (v, _)) =>
      val base = Stats.median(untraced.flatMap(_.get(k)))
      if (base.isNaN || base == 0) None else Some(k -> v / base)
    } ++ Map("untraced_runs" -> untraced.size)
  }
}

/** Reads the end-to-end values back out of a run record. */
object RecordReader {
  def endToEnd(record: String): Option[Map[String, Double]] = {
    import scala.jdk.CollectionConverters._
    Option(new com.fasterxml.jackson.databind.ObjectMapper().readTree(record).get("end_to_end"))
      .map(_.properties.asScala.map(e => e.getKey -> e.getValue.get("value").asDouble).toMap)
  }
}
