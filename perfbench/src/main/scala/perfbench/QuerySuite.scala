package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.execution.QueryExecution
import graft.{SparkEntry, Tables}
import Main.{seconds, timed}

/** The analytics consumer: registered queries over the fixture, each
  * forced through a full materialization (`noop` sink) in a serial
  * closed loop with one client, in a seed-permuted order. */
object QuerySuite {

  /** A fixed cross-section of `SparkEntry.queries`: one or more of
    * every family the layer metrics name, the star joins with
    * driver-side construction jobs (q5, q8), a three-group aggregate
    * (q_percentiles), and text rows whose projections a `count()` never
    * ran.  The whole registry takes about 90 s per warm pass at four
    * cores even on the smallest fixture, plus 85 s of builds, which one
    * run cannot afford.  Left out: the similarity family, because every
    * `sim_*` query depends on the k-means build (12 s on its own), and
    * q_approx_distinct, which alone takes 3.7 s warm and about 9 s of
    * each run. */
  val Queries: Seq[String] = Seq(
    "q1_pricing_summary", "q5_star_join", "q6_selective_filter",
    "q8_market_share", "q_percentiles",
    "ingest_bars_daily", "ingest_upsert_dedup",
    "text_pii", "text_fingerprint", "dedup_exact", "mm_inventory")

  /** Family of a query name, as the layer metrics group them. */
  def family(q: String): String =
    if (q.startsWith("ingest_") || q.startsWith("src_")) "ingest.queries_s"
    else if (q.startsWith("text_")) "ops.TextAnalysis_s"
    else if (q.startsWith("dedup_")) "ops.Dedup_s"
    else if (q.startsWith("sim_") || q.startsWith("lex_")) "ops.Similarity_s"
    else if (q.startsWith("mm_")) "ops.Multimodal_s"
    else "ops.Relational_s"

  val MinPasses = 2

  val TableNames = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Planning phases of each finished SQL execution, by wall clock. */
  private final class PlanPhases extends QueryExecutionListener {
    val seen = mutable.ArrayBuffer.empty[Map[String, (Long, Long)]]
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = synchronized {
      seen += qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def run(o: Opts, t: Tracer, r: Result): Unit = {
    val fns = Queries.map(q => q -> SparkEntry.queries(q)).toMap
    val order = new scala.util.Random(o.seed).shuffle(Queries)
    val builds = SparkEntry.builds.toSeq.sortBy(_._1).filter { case (b, _) =>
      SparkEntry.buildConsumers.get(b).forall(p => Queries.exists(p))
    }
    val dir = o.fixture

    // set-up: session start + the shared builds the queries depend on,
    // repeated on a fresh session and store directory each time
    var spark: SparkSession = null
    val buildS = mutable.LinkedHashMap.empty[String, Double]
    for (rep <- 1 to o.setupReps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = t.span("setup", root = true) {
        val s = t.span("session")(Main.session(o, s"${o.work}/tmp$rep"))
        builds.foreach { case (name, fn) =>
          val (_, sec) = timed(t.span("build")(
            SparkCounters.phase(s, "build")(fn(s, dir))))
          buildS(name) = sec
        }
        s
      }
      r.setupS += seconds(t0)
    }
    val cachedBytes = Main.heldBytes(spark)

    val counters = new SparkCounters
    val phases = new PlanPhases
    if (t.on) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(phases)
    }

    // warm-up: one untimed pass that also writes each result for the
    // output check (run.py hashes them against the recorded oracle)
    val (_, warmS) = timed(order.foreach { q =>
      try {
        fns(q)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"${o.work}/check/$q")
        r.ok()
      } catch { case e: Throwable => r.checkFailed(s"check $q", e) }
    })
    Main.drain(spark)
    counters.reset()
    phases.synchronized(phases.seen.clear())

    // measured passes: whole passes until the run's time is spent, at
    // least MinPasses, so a slow first pass does not also cost the run
    // its second, warmer one
    val family = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var constructS = 0.0
    val t0 = System.nanoTime()
    val deadline = o.deadlineNs(t0)
    var passes = 0
    val wall0 = System.currentTimeMillis() * 1000000L - System.nanoTime()
    // construct and execute spans with their intervals, to hang the
    // planning phases under the one that ran them
    val phaseParents = mutable.ArrayBuffer.empty[((Long, Long), Long, Long)]
    def parentSpan[T](name: String, label: String)(body: => T): T =
      t.span(name) {
        val a = System.nanoTime()
        try SparkCounters.phase(spark, label)(body)
        finally if (t.on) phaseParents += ((t.openSpan, a, System.nanoTime()))
      }
    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    do {
      val p0 = System.nanoTime()
      order.foreach { q =>
        val q0 = System.nanoTime()
        try {
          t.span("query", root = true) {
            val df = parentSpan("construct", "construct")(fns(q)(spark, dir))
            constructS += seconds(q0)
            parentSpan("execute", "execute")(
              df.write.format("noop").mode("overwrite").save())
          }
          val s = seconds(q0)
          r.opsS += s
          perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += s
          family(QuerySuite.family(q)) += s
          r.ok()
        } catch { case e: Throwable => r.fail(q, e) }
      }
      r.passS += seconds(p0)
      passes += 1
    } while (System.nanoTime() < deadline || passes < MinPasses)
    r.memHeldBytes = Main.heldBytes(spark)

    if (t.on) {
      Main.drain(spark)
      val n = passes.toDouble
      val c = counters.sum("construct")
      val all = counters.sum("construct", "execute")
      r.layers ++= Seq(
        "construct_s" -> constructS / n,
        "construct_jobs" -> c("jobs") / n)
      Seq("exec_s", "jobs", "stages", "tasks", "cpu_s", "shuffle_write_bytes",
        "shuffle_read_bytes", "spill_bytes", "input_bytes").foreach { k =>
        r.layers(s"spark.$k") = all(k) / n
      }
      r.layers("spark.stage_skew_max") = all("stage_skew_max")
      Seq("ops.Relational_s", "ingest.queries_s", "ops.TextAnalysis_s",
        "ops.Dedup_s", "ops.Multimodal_s").foreach { f =>
        r.layers(f) = family(f) / n
      }
      // planning phases, attributed to the construct or execute span
      // whose wall interval holds them, rebuilt as its child spans
      val seen = phases.synchronized(phases.seen.toList)
      val phaseMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      seen.foreach { ph =>
        ph.foreach { case (k, (s, e)) =>
          val (sNs, eNs) = (s * 1000000L - wall0, e * 1000000L - wall0)
          phaseParents.find { case (_, a, b) => sNs >= a && sNs <= b }.foreach {
            case (span, _, _) =>
              phaseMs(k) += (e - s).toDouble
              t.childOf(span, s"plan.$k", sNs, eNs)
          }
        }
      }
      Seq("analysis", "optimization", "planning").foreach { k =>
        r.layers(s"plan.${k}_ms") = phaseMs(k) / n
      }
      r.layers("cache.build_s") = buildS.values.sum
      r.layers("cache.build_max_s") = (buildS.values ++ Seq(0.0)).max
      r.layers("cache.builds") = buildS.size.toDouble
      r.layers("cache.cached_bytes") = cachedBytes
      r.extra("build_s") = buildS.toMap
      r.layers("warmup_s") = warmS
      // each fixture table loaded directly, as the queries load it
      counters.reset()
      val (_, loadS) = timed(TableNames.foreach { tb =>
        t.span("tables.load", root = true)(SparkCounters.phase(spark, "load")(
          if (tb == "events") Tables.events(spark, dir) else Tables.load(spark, dir, tb)))
      })
      Main.drain(spark)
      r.layers("tables.load_s") = loadS
      r.layers("tables.load_jobs") = counters.sum("load")("jobs")
    }
    r.extra("per_query_s") = perQuery.map { case (k, v) => k -> v.toSeq }.toMap
    r.extra("passes") = passes
    r.extra("queries") = Queries.size
  }
}
