package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Serve
import graft.ingest.{BarPipeline, BarStore}
import graft.serve.StatusServer
import graft.streaming.RunStatusListener
import Main.seconds

/** The reference's cron dataflow: a 30-day bootstrap arrival, then one
  * daily arrival file per scheduled `Serve.runOnce`, in a closed loop
  * like `Serve.runLoop`.  Beside the runs, one open-loop generator
  * reads the in-process `StatusServer` at a fixed rate.
  *
  * `scheduled_ingest` reads the health check (`/`) beside the runs and
  * the store-backed endpoints (`/summaries`, `/snapshot`) once after
  * each run returns.  `ingest_race` reads all three beside the runs, so
  * store reads race `BarStore.merge`; some of them fail, a random number
  * per run, and every failure is counted. */
object ScheduledIngest {

  /** Status reads per second; one generator thread, so a stalled read
    * delays the ones due after it, and that wait is counted. */
  val ReadRate = 0.5
  val MinRuns = 5
  val Endpoints = Seq("/", "/summaries", "/snapshot")
  /** Read after each run on `scheduled_ingest`, beside the runs on `ingest_race`. */
  val StoreEndpoints = Seq("/summaries", "/snapshot")
  val DataCols = Seq("symbol", "bar_key", "timestamp", "timeframe", "open",
    "high", "low", "close", "volume")

  final case class Read(endpoint: String, dueNs: Long, sentNs: Long,
      endNs: Long, status: Int, error: Option[String])

  /** One timed GET whose body must parse as JSON; `dueNs` is when it
    * was due (the send time for a closed-loop read). */
  final class Client(port: Int, t: Tracer) {
    private val client = HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(10)).build()
    private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

    def get(ep: String, dueNs: Long): Read = {
      val sent = System.nanoTime()
      val (status, err) = t.span("http", root = true) {
        try {
          val resp = client.send(HttpRequest.newBuilder(
              URI.create(s"http://127.0.0.1:$port$ep"))
            .timeout(java.time.Duration.ofSeconds(60)).GET().build(),
            HttpResponse.BodyHandlers.ofString())
          if (resp.statusCode != 200)
            (resp.statusCode, Some(resp.body.take(200)))
          else
            try { mapper.readTree(resp.body); (200, None) }
            catch { case e: Exception => (200, Some(s"unparsable body: ${e.getMessage}")) }
        } catch { case e: Exception => (-1, Some(e.toString)) }
      }
      Read(ep, dueNs, sent, System.nanoTime(), status, err)
    }
  }

  /** Reads `endpoints` in rotation on a fixed schedule until stopped. */
  final class Reader(client: Client, endpoints: Seq[String])
      extends Thread("perfbench-status-reader") {
    setDaemon(true)
    @volatile var stopping = false
    val reads = mutable.ArrayBuffer.empty[Read]

    override def run(): Unit = {
      val period = (1e9 / ReadRate).toLong
      val t0 = System.nanoTime()
      var i = 0L
      while (!stopping) {
        val due = t0 + i * period
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        if (!stopping) {
          val rd = client.get(endpoints((i % endpoints.size).toInt), due)
          reads.synchronized(reads += rd)
          i += 1
        }
      }
    }
  }

  private def listFiles(dir: String): Map[String, (Long, Long)] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith(".") && !p.getFileName.toString.startsWith("_"))
        .map(p => root.relativize(p).toString ->
          (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
      finally s.close()
    }
  }

  def run(o: Opts, t: Tracer, r: Result): Unit = {
    val arrivals = Files.list(Paths.get(o.inputs, "ticks")).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    val src = s"${o.work}/src"
    val serveDir = s"${o.work}/serve"
    val store = s"$serveDir/bars"
    Files.createDirectories(Paths.get(src))

    // set-up: session start + status listener + status server
    var spark: SparkSession = null
    var server: StatusServer = null
    var listener: RunStatusListener = null
    var port = 0
    for (rep <- 1 to o.setupReps) {
      if (server != null) server.stop()
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      t.span("setup", root = true) {
        spark = t.span("session")(Main.session(o, s"${o.work}/tmp$rep"))
        listener = new RunStatusListener
        spark.streams.addListener(listener)
        server = new StatusServer(spark, store, listener)
        port = server.start(0)
      }
      r.setupS += seconds(t0)
    }
    val counters = new SparkCounters
    val streams = new StreamCounters // for state memory, traced or not
    spark.streams.addListener(streams)
    if (t.on) spark.sparkContext.addSparkListener(counters)

    def land(file: String): Long = {
      val name = Paths.get(file).getFileName.toString
      val tmp = Paths.get(src, s".$name")
      Files.copy(Paths.get(file), tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, Paths.get(src, name), StandardCopyOption.ATOMIC_MOVE)
      Files.size(Paths.get(file))
    }

    val wall0 = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val runSpans = mutable.ArrayBuffer.empty[((Long, Long), Int, Int, Long)]
    var written = 0.0
    var inputBytes = 0.0
    val rewritten = mutable.ArrayBuffer.empty[Int]

    /** One scheduled run: land the file, drain it; seconds from landing. */
    def scheduled(file: String, label: String): Double = {
      val before = if (t.on) listFiles(store) else Map.empty[String, (Long, Long)]
      val (np, ns) = streams.counts
      val t0 = System.nanoTime()
      val wallMs = System.currentTimeMillis()
      val bytes = land(file)
      t.span("run_once", root = true) {
        SparkCounters.phase(spark, label)(Serve.runOnce(spark, src, serveDir))
        if (t.on) runSpans += ((t.openSpan, np, ns, wallMs))
      }
      val s = seconds(t0)
      if (t.on) {
        val after = listFiles(store)
        val changed = after.filter { case (k, v) => !before.get(k).contains(v) }
        val gone = before.keySet -- after.keySet
        if (label == "run") {
          written += changed.values.map(_._1).sum
          inputBytes += bytes
          rewritten += (changed.keySet ++ gone).map(_.takeWhile(_ != '/')).size
        }
      }
      s
    }

    // the status surface is read from before the first fetch on; the
    // run's time counts from there
    val race = o.workload == "ingest_race"
    val deadline = o.deadlineNs(System.nanoTime())
    val client = new Client(port, t)
    val reader = new Reader(client, if (race) Endpoints else Seq("/"))
    reader.start()
    // closed-loop store reads after each run, outside the run's time
    val afterRuns = mutable.ArrayBuffer.empty[Read]
    var passS = 0.0
    def scheduledThenRead(file: String, label: String): Double = {
      val s = scheduled(file, label)
      passS += s
      if (!race) StoreEndpoints.foreach(ep => afterRuns += client.get(ep, System.nanoTime()))
      s
    }
    // bootstrap: the 30-day history in one run
    try r.layers("ingest.bootstrap_s") = scheduledThenRead(arrivals.head, "bootstrap")
    catch { case e: Throwable => r.fail("bootstrap", e); throw e }
    r.ok()
    var landed = 1
    val daily = arrivals.tail.iterator
    // at least MinRuns scheduled runs; the first merge into the store
    // compiles its plans, so it counts in the pass but not as a sample
    while ((System.nanoTime() < deadline || landed <= MinRuns) && daily.hasNext) {
      val f = daily.next()
      try {
        val s = scheduledThenRead(f, "run")
        if (landed == 1) r.layers("ingest.first_run_s") = s else r.opsS += s
        r.ok()
      } catch { case e: Throwable => r.fail(s"run ${Paths.get(f).getFileName}", e) }
      landed += 1
    }
    // the pass: bootstrap plus every scheduled run, landing to return
    r.passS += passS
    reader.stopping = true
    reader.join(120000)
    val openLoop = reader.reads.synchronized(reader.reads.toList)
    val reads = openLoop ++ afterRuns
    reads.foreach { rd =>
      rd.error match {
        case None => r.ok()
        case Some(why) => r.fail(s"GET ${rd.endpoint} -> ${rd.status}", why)
      }
    }
    Main.drain(spark)
    r.memHeldBytes = Main.heldBytes(spark) + Streams.lastState(streams.progressSince(0))._2

    // output checks, untimed
    val oracleDir = s"${o.work}/oracle/events.parquet"
    Files.createDirectories(Paths.get(oracleDir))
    arrivals.take(landed).foreach(f =>
      Files.copy(Paths.get(f), Paths.get(oracleDir, Paths.get(f).getFileName.toString)))
    val got = BarStore.read(spark, store).select(DataCols.map(col): _*)
    val want = BarPipeline.canonicalBars(spark, s"${o.work}/oracle").select(DataCols.map(col): _*)
    val missing = want.exceptAll(got).count()
    val extra = got.exceptAll(want).count()
    r.check("store equals one-shot canonicalBars", missing == 0 && extra == 0,
      s"$missing bars missing, $extra unexpected")
    val symbols = want.select("symbol").distinct().count()
    val perBatch = spark.read.json(s"$serveDir/events")
      .groupBy("batch_id")
      .agg(countDistinct(get_json_object(col("message"), "$.asset_symbol")).as("n"),
        count(lit(1)).as("events"))
      .collect().map(row => (row.getLong(0), row.getLong(1), row.getLong(2)))
    r.check("one summary event per symbol per run",
      perBatch.length >= landed && perBatch.forall { case (_, n, ev) => n == symbols && ev == symbols },
      s"${perBatch.length} batches for $landed runs; per batch (id, symbols, events): " +
        perBatch.sortBy(_._1).take(5).mkString(" "))

    r.extra("runs") = landed - 1
    r.extra("reads") = reads.size
    if (t.on) layers(o, t, r, spark, counters, streams, runSpans.toSeq, reads, openLoop,
      written, inputBytes, rewritten.toSeq, landed, wall0)
  }

  private def layers(o: Opts, t: Tracer, r: Result, spark: SparkSession,
      counters: SparkCounters, streams: StreamCounters,
      runSpans: Seq[((Long, Long), Int, Int, Long)], reads: Seq[Read], openLoop: Seq[Read],
      written: Double, inputBytes: Double, rewritten: Seq[Int], landed: Int,
      wall0: Long): Unit = {
    Main.drain(spark)
    val runs = math.max(1, landed - 1).toDouble
    val all = counters.sum("run")
    Seq("exec_s", "jobs", "stages", "tasks", "cpu_s", "shuffle_write_bytes",
      "shuffle_read_bytes", "spill_bytes", "input_bytes").foreach { k =>
      r.layers(s"spark.$k") = all(k) / runs
    }
    r.layers("spark.stage_skew_max") = all("stage_skew_max")
    // streaming layer: progress of the scheduled runs (not bootstrap)
    val (np0, ns0) = (runSpans.lift(1).map(_._2).getOrElse(0), runSpans.lift(1).map(_._3).getOrElse(0))
    val ps = streams.progressSince(np0)
    val tot = Streams.totals(ps)
    Seq("trigger_ms", "add_batch_ms", "query_planning_ms", "wal_commit_ms",
      "commit_offsets_ms", "latest_offset_ms", "state_update_ms", "state_commit_ms",
      "rows_dropped_by_watermark", "input_rows").foreach { k =>
      r.layers(s"stream.$k") = tot(k) / runs
    }
    r.layers("stream.batches_per_run") = tot("batches") / runs
    val (rows, mem) = Streams.lastState(ps)
    r.layers("stream.state_rows") = rows
    r.layers("stream.state_mem_bytes") = mem
    // start: from the runOnce call to the first query's start event
    val starts = streams.startsSince(ns0)
    val startMs = runSpans.drop(1).flatMap { case (_, _, ns, callMs) =>
      starts.drop(ns - ns0).headOption.map(_ - callMs)
    }
    r.layers("stream.start_ms") = if (startMs.isEmpty) 0.0 else startMs.sum.toDouble / startMs.size
    // per-run child spans rebuilt from the progress reports
    runSpans.zipWithIndex.foreach { case ((span, np, _, _), i) =>
      val end = runSpans.lift(i + 1).map(_._2).getOrElse(streams.counts._1)
      Streams.phaseSpans(t, span, streams.progressSince(np).take(end - np),
        ms => ms * 1000000L - wall0)
    }
    // bar store, walked from outside
    val newTicks = math.max(1.0, tot("input_rows"))
    r.layers("barstore.bytes_written_per_input_byte") = written / math.max(1.0, inputBytes)
    r.layers("barstore.partitions_rewritten_per_run") =
      if (rewritten.isEmpty) 0.0 else rewritten.sum.toDouble / rewritten.size
    r.layers("barstore.files") = listFiles(s"${o.work}/serve/bars").count(_._1.endsWith(".parquet")).toDouble
    r.layers("barstore.rows_read_per_new_tick") = all("input_records") / newTicks
    // status server
    def pct(xs: Seq[Double]) = (quantile(xs, 0.5), tail(xs))
    Endpoints.foreach { ep =>
      val name = if (ep == "/") "root" else ep.stripPrefix("/")
      val lat = reads.filter(_.endpoint == ep).map(rd => (rd.endNs - rd.dueNs) / 1e6)
      val (p50, tl) = pct(lat)
      r.layers(s"serve.${name}_p50_ms") = p50
      r.layers(s"serve.${name}_tail_ms") = tl
      r.layers(s"serve.${name}_errors") = reads.count(rd => rd.endpoint == ep && rd.error.nonEmpty).toDouble
    }
    val lat = reads.map(rd => (rd.endNs - rd.dueNs) / 1e6)
    r.layers("serve.status_p50_ms") = quantile(lat, 0.5)
    r.layers("serve.status_tail_ms") = tail(lat)
    r.layers("serve.http_500") = reads.count(_.status == 500).toDouble
    r.layers("serve.http_errors") = reads.count(_.error.nonEmpty).toDouble
    r.layers("serve.gen_lateness_ms") = quantile(openLoop.map(rd => (rd.sentNs - rd.dueNs) / 1e6), 0.5)
    r.extra("http_errors") = reads.filter(_.error.nonEmpty)
      .groupBy(rd => s"${rd.endpoint} ${rd.status}").map { case (k, v) => k -> v.size }
  }

  /** Quantile by nearest rank (0 when empty). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(math.min(s.size - 1, (q * s.size).toInt)) }

  /** The sample with ten above it, or the maximum when there are fewer
    * than eleven (0 when empty). */
  def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size < 11) s.last else s(s.size - 11)
  }
}
