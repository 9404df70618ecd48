package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point:
 *
 * {{{
 * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> [--out <dir>]
 * }}}
 *
 * Prints one diagnostic JSON line, then the result as the last line of
 * stdout. With `--trace 0` the result's metrics are the end-to-end ones;
 * with `--trace 1` they are the per-layer ones, and the spans and the
 * tracing overhead go to files under `--out`.
 */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean, tiny: Boolean, out: String)

  /** `setup_s` is the median of at least three set-ups, more while they
    * have taken under two seconds in all (at most nine). */
  val MinSetups = 3
  val MaxSetups = 9
  val SetupBudgetS = 2.0

  def parse(args: Array[String]): Args = {
    def value(k: String): Option[String] = {
      val i = args.indexOf(k)
      if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
    }
    def need(k: String) = value(k).getOrElse(throw new IllegalArgumentException(s"missing $k"))
    val a = Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") match {
        case "0" => false
        case "1" => true
        case other => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $other")
      },
      tiny = false, value("--out").getOrElse(".bench_build/perfbench"))
    require(Workload.Names.contains(a.workload),
      s"unknown workload ${a.workload} (expected one of ${Workload.Names.mkString(", ")})")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    // read before the session exists: SparkConf picks up spark.* properties
    if (a.trace) System.setProperty("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = graft.GraftSession.local(Runtime.getRuntime.availableProcessors)
    val code =
      try {
        val res = run(spark, a)
        println(Json.render(Map("diagnostic" -> res.diagnostic)))
        println(Json.render(res.line))
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally spark.stop()
    sys.exit(code)
  }

  final case class Result(line: Map[String, Any], diagnostic: Map[String, Any], ops: Seq[Op])

  def run(spark: SparkSession, a: Args): Result = {
    val tag = s"${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}${if (a.tiny) "-tiny" else ""}"
    val out = new File(a.out).getAbsoluteFile
    val work = new File(out, s"work-$tag")
    Ctx.deleteTree(work)
    work.mkdirs()
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }
    val wl = Workload(a.workload, a.tiny, spark, a.seed)
    wl.prepare(new File(work, "inputs").getPath)
    phase("prepare")
    wl.warmup(new Ctx(spark, new Tracer(spark, enabled = false)), new File(work, "warmup").getPath)
    Ctx.deleteTree(new File(work, "warmup"))
    phase("warmup")
    val calibration = Calibration.probe(spark)
    phase("calibration")
    val setupS = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (setupS.size < MinSetups || (setupS.sum < SetupBudgetS && setupS.size < MaxSetups)) {
      val i = setupS.size
      val t0 = System.nanoTime()
      wl.setup(new File(work, s"setup$i").getPath)
      setupS += (System.nanoTime() - t0) / 1e9
      if (i > 0) Ctx.deleteTree(new File(work, s"setup${i - 1}"))
    }
    phase("setup")
    val tracer = new Tracer(spark, a.trace)
    val ctx = new Ctx(spark, tracer)
    val t0 = System.nanoTime()
    wl.run(ctx, a.seconds)
    val measuredS = (System.nanoTime() - t0) / 1e9
    tracer.drain()
    tracer.close()
    phase("timed")

    val ops = ctx.ops.toSeq
    val failed = ops.count(!_.ok)
    val e2e = Metrics.endToEnd(ops, Stats.median(setupS.toSeq))
    val layers = Metrics.perLayer(ops, tracer)
    val metrics = if (a.trace) layers else e2e
    val finite = metrics.values.forall(v => !v._1.isNaN && !v._1.isInfinite)
    val correct = failed == 0 && ops.nonEmpty && finite
    val line = Map(
      "correct" -> correct,
      "attempted" -> ops.size,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, unit)) =>
        k -> Map("value" -> (if (finite) v else 0.0), "unit" -> unit) })

    val records = new File(out, "records")
    records.mkdirs()
    val overhead = if (a.trace) Metrics.overhead(e2e, records, a.workload) else Map.empty[String, Any]
    val diagnostic = Map[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "calibration_s" -> calibration, "measured_s" -> measuredS,
      "setup_s_reps" -> setupS.toSeq, "sync_ops" -> ops.count(_.kind == "sync"),
      "read_ops" -> ops.count(_.kind == "read"), "failed" -> failed, "phases_s" -> phases.toMap) ++
      (if (a.trace) Map("tracing_overhead" -> overhead) else Map.empty)
    val stamp = System.currentTimeMillis()
    write(new File(records, s"$tag-$stamp.json"), Json.render(Map(
      "diagnostic" -> diagnostic,
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> (if (a.trace) layers.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) } else Map.empty),
      "ops" -> ops.map(o => Map("kind" -> o.kind, "fmt" -> o.fmt, "label" -> o.label,
        "ms" -> o.ns / 1e6, "ok" -> o.ok, "files" -> o.files, "meta_bytes" -> o.metaBytes)))))
    if (a.trace) {
      val w = new PrintWriter(new File(out, s"spans-$tag-$stamp.jsonl"), "UTF-8")
      try tracer.closed.foreach { s =>
        w.println(Json.render(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "call" -> s.call,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs, "jobs" -> tracer.jobsOf(s.id),
          "tasks" -> tracer.tasksOf(s.id), "fs_read_ops" -> s.fsReadOps,
          "fs_write_ops" -> s.fsWriteOps, "bytes_written" -> s.bytesWritten,
          "alloc_bytes" -> s.allocBytes)))
      } finally w.close()
    }
    Ctx.deleteTree(work)
    Result(line, diagnostic, ops)
  }

  private def write(f: File, s: String): Unit =
    Files.write(Paths.get(f.getPath), s.getBytes(StandardCharsets.UTF_8))
}

/** A fixed pure-Spark job: host speed, independent of the engine. An
  * ungated diagnostic that tells box drift from code drift. */
object Calibration {
  def probe(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 10000000L, 1L, spark.sparkContext.defaultParallelism)
        .selectExpr("sum(pmod(xxhash64(id), 1000))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Stats.median((0 until 3).map(_ => once()))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear interpolation between closest ranks; NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val r = p / 100 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
}

/** JSON rendering of maps, sequences, strings and numbers, keys sorted. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    .configure(com.fasterxml.jackson.databind.SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS, true)

  def render(v: Any): String = mapper.writeValueAsString(v)
}
