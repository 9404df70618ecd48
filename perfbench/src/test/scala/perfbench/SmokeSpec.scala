package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sync.SyncEngine

/** The benchmark's own checks: every workload end to end at its tiny
  * shape, failures counted and never timed, and exact sync accounting. */
class SmokeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = graft.GraftSession.local(2)
  private val dirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
  private def tmp(prefix: String) = {
    val d = Files.createTempDirectory(prefix).toFile
    dirs += d
    d.getPath
  }

  override def afterAll(): Unit = {
    spark.stop()
    dirs.foreach(Ctx.deleteTree)
  }

  private val endToEnd = Seq("setup_s", "sync_files_per_s", "sync_to_delta_s",
    "sync_to_iceberg_s", "sync_to_hudi_s", "meta_bytes_per_file", "read_ops_per_s",
    "read_ms_p50", "read_ms_p95")

  for (w <- Workload.Names; trace <- Seq(false, true)) {
    test(s"tiny $w runs end to end with every output checked (trace=$trace)") {
      val res = Main.run(spark, Main.Args(w, seed = 7, seconds = 1, trace, tiny = true,
        out = tmp("perfbench-smoke")))
      assert(res.line("correct") == true, res.diagnostic)
      assert(res.line("failed") == 0)
      assert(res.ops.exists(_.kind == "sync") && res.ops.exists(_.kind == "read"))
      val metrics = res.line("metrics").asInstanceOf[Map[String, Map[String, Any]]]
      if (!trace) {
        assert(metrics.keySet == endToEnd.toSet)
        endToEnd.foreach(k => assert(metrics(k)("value").asInstanceOf[Double] > 0, k))
      } else {
        assert(metrics.contains("delta.commit.ms") && metrics.contains("sync.self_ms"))
        assert(metrics("hudi.source.ms")("value").asInstanceOf[Double] > 0 ||
          metrics("delta.source.ms")("value").asInstanceOf[Double] > 0)
      }
    }
  }

  test("a throwing operation is counted as failed and adds no time sample") {
    val ctx = new Ctx(spark, new Tracer(spark, enabled = false))
    ctx.op("read", "delta", "ok") { Thread.sleep(20) } { _ => o => o }
    val failed = ctx.op("read", "delta", "boom") {
      Thread.sleep(5); throw new IllegalStateException("synthetic")
    } { _ => o => o }
    val mismatched = ctx.op("read", "delta", "wrong answer") { 1 } { got => o =>
      require(got == 2, "mismatch"); o
    }
    assert(!failed.ok && failed.ns == 0 && !mismatched.ok && mismatched.ns == 0)
    val m = Metrics.endToEnd(ctx.ops.toSeq, setupS = 1.0)
    assert(m("read_ms_p50")._1 >= 20 && m("read_ms_p95")._1 == m("read_ms_p50")._1)
    assert(m("read_ops_per_s")._1 < 1000.0 / 20)
  }

  test("a hudi->delta full sync of N files reports N adds and at least one commit call") {
    val dir = tmp("perfbench-n")
    val t = SyntheticHudi.create(spark, s"$dir/src")
    val rng = new java.util.Random(3)
    val n = (0 until 3).flatMap(i => SyntheticHudi.commit(t, 0 until 11, s"c$i", rng)).size
    assert(n == 33)
    val tracer = new Tracer(spark, enabled = true)
    val ctx = new Ctx(spark, tracer)
    val op = ctx.sync("hudi->delta", SyncEngine.sourceFor(spark, "hudi", s"$dir/src"),
      "delta", s"$dir/delta", SyncEngine.Full, "full", adds = n, removes = 0)
    tracer.drain()
    tracer.close()
    assert(op.ok && op.files == n && op.metaBytes > 0)
    assert(tracer.closed.count(s => s.name == "delta.commit" && s.call == "commit") >= 1)
    assert(tracer.closed.exists(s => s.name == "hudi.source" && s.call == "snapshotFiles"))
    // a wrong expectation is a failed operation, not a silent pass
    val wrong = ctx.sync("hudi->delta again", SyncEngine.sourceFor(spark, "hudi", s"$dir/src"),
      "delta", s"$dir/delta2", SyncEngine.Full, "full", adds = n + 1, removes = 0)
    assert(!wrong.ok)
  }
}
