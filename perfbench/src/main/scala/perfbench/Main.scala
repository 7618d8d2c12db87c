package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** Command-line options; `run.py` passes every one of them. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, cores: Int, fixture: String, inputs: String,
    work: String, out: String, setupReps: Int) {
  def deadlineNs(fromNs: Long): Long = fromNs + (seconds * 1e9).toLong
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, need("fixture"), need("inputs"),
      need("work"), need("out"), m.getOrElse("setup-reps", "3").toInt)
  }
}

/** What one run measured; `run.py` turns it into the printed metrics. */
final class Result {
  var attempted = 0L
  var failed = 0L
  var checksFailed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val setupS = mutable.ArrayBuffer.empty[Double]
  val opsS = mutable.ArrayBuffer.empty[Double]
  val passS = mutable.ArrayBuffer.empty[Double]
  var memHeldBytes = 0.0
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val extra = mutable.LinkedHashMap.empty[String, Any]

  def ok(): Unit = synchronized { attempted += 1 }
  def fail(what: String, e: Throwable): Unit = fail(what,
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
  def fail(what: String, why: String): Unit = synchronized {
    attempted += 1; failed += 1
    if (errors.size < 50) errors += s"$what: $why"
  }
  /** An output check: one attempted operation, failed on a mismatch. */
  def check(what: String, good: Boolean, why: => String): Unit =
    if (good) ok() else { synchronized(checksFailed += 1); fail(what, why) }
  def checkFailed(what: String, e: Throwable): Unit = {
    synchronized(checksFailed += 1); fail(what, e)
  }

  def json: String = Json.obj("attempted" -> attempted, "failed" -> failed,
    "checks_failed" -> checksFailed,
    "errors" -> errors.toSeq, "setup_s" -> setupS.toSeq, "ops_s" -> opsS.toSeq,
    "pass_s" -> passS.toSeq, "mem_held_bytes" -> memHeldBytes,
    "layers" -> layers.toMap, "extra" -> extra.toMap)
}

object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val res = new Result
    val tracer = new Tracer(o.trace)
    val code =
      try {
        o.workload match {
          case "query_suite" => QuerySuite.run(o, tracer, res)
          case "scheduled_ingest" | "ingest_race" => ScheduledIngest.run(o, tracer, res)
          case "curation_stream" => CurationStream.run(o, tracer, res)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .foreach(_.stop())
    if (code == 0) {
      if (o.trace) tracer.write(s"${o.work}/spans.jsonl")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out), res.json)
    }
    // non-daemon threads of the engine must not keep the JVM alive
    System.exit(code)
  }

  /** A fresh engine session whose persisted stores land under `tmp`. */
  def session(o: Opts, tmp: String): SparkSession = {
    new java.io.File(tmp).mkdirs()
    System.setProperty("java.io.tmpdir", tmp)
    GraftSession.build("perfbench", o.cores)
  }

  /** Block-manager bytes held by cached and checkpointed relations. */
  def heldBytes(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => (i.memSize + i.diskSize).toDouble).sum

  def seconds(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, seconds(t0))
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
