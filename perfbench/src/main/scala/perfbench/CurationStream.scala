package perfbench

import java.sql.Timestamp
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.Tables
import graft.streaming.StreamingCuration
import Main.seconds

/** The curation DAG (quality → PII redact → surprisal gate → near-dup
  * dedup) as one stream over hourly arrival batches fed through a
  * `MemoryStream`, closed by flush arrivals.  Each pass is a fresh
  * query over all batches; passes repeat until the run's time is
  * spent. */
object CurationStream {

  /** Gate parameters, chosen on the fixture corpus so that every stage
    * keeps and drops documents: quality keeps texts of 25+ clean
    * tokens, and the surprisal band keeps the middle of the corpus's
    * per-document mean surprisal under its own unigram model. */
  val MinScore = 0.5
  val SurLo = 3.396
  val SurHi = 3.41
  val FlushId = 9000000L

  private type Doc = (Long, Timestamp, String)

  def run(o: Opts, t: Tracer, r: Result): Unit = {
    var spark: SparkSession = null
    var model: DataFrame = null
    // set-up: session start + the unigram model fit on the corpus
    for (rep <- 1 to o.setupReps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      t.span("setup", root = true) {
        spark = t.span("session")(Main.session(o, s"${o.work}/tmp$rep"))
        model = t.span("model_fit")(StreamingCuration.unigramModel(
          Tables.documents(spark, o.fixture).select("doc_id", "text")).cache())
        model.count()
      }
      r.setupS += seconds(t0)
    }
    val session = spark
    import session.implicits._

    val rows = spark.read.parquet(s"${o.inputs}/arrivals.parquet")
      .orderBy("batch", "ingest_ts", "doc_id").collect()
    val batches: Seq[Seq[Doc]] = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.toSeq.map(row => (row.getLong(1), row.getTimestamp(2), row.getString(3))))
    val inputDocs = batches.init.map(_.size).sum

    val counters = new SparkCounters
    val streams = new StreamCounters
    spark.streams.addListener(streams)
    if (t.on) spark.sparkContext.addSparkListener(counters)

    // the batch mirror over the same arrivals: the expected kept set
    val all = batches.flatten.toDF("doc_id", "ingest_ts", "text")
    val expected = StreamingCuration.curationDagBatch(all, model, MinScore, SurLo, SurHi)
      .collect().map(row => (row.getTimestamp(0), row.getLong(1)))
      .filter(_._2 < FlushId).toSet
    gateLiveness(r, all.filter($"doc_id" < FlushId), model, expected.size)

    val wall0 = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val t0 = System.nanoTime()
    val deadline = o.deadlineNs(t0)
    var passes = 0
    val batchSpans = mutable.ArrayBuffer.empty[((Long, Long), Int)]
    var lastProgress = 0
    val startCalls = mutable.ArrayBuffer.empty[Long]
    do {
      val p0 = System.nanoTime()
      startCalls += System.currentTimeMillis()
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Doc]
      val name = s"kept_$passes"
      // started under the label: the stream's thread inherits it
      val q = SparkCounters.phase(spark, "batch")(StreamingCuration.curationDag(
          input.toDS().toDF("doc_id", "ingest_ts", "text"), model,
          minScore = MinScore, minSurprisal = SurLo, maxSurprisal = SurHi)
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", s"${o.work}/ckpt/$name").start())
      try {
        batches.foreach { b =>
          val b0 = System.nanoTime()
          val np = streams.counts._1
          try {
            t.span("batch", root = true) {
              input.addData(b)
              q.processAllAvailable()
              if (t.on) batchSpans += ((t.openSpan, np))
            }
            r.opsS += seconds(b0)
            r.ok()
          } catch { case e: Throwable => r.fail(s"batch of ${b.size}", e) }
        }
        lastProgress = streams.counts._1
        val got = spark.table(name).collect()
          .map(row => (row.getTimestamp(0), row.getLong(1))).filter(_._2 < FlushId).toSet
        r.check(s"pass $passes kept set equals curationDagBatch", got == expected,
          s"${(expected -- got).size} missing, ${(got -- expected).size} unexpected")
        if (passes == 0) r.layers("curation.kept_frac") = got.size.toDouble / inputDocs
      } finally q.stop()
      r.passS += seconds(p0)
      passes += 1
    } while (System.nanoTime() < deadline)
    Main.drain(spark)
    val ps = streams.progressSince(0)
    r.memHeldBytes = Main.heldBytes(spark) + Streams.lastState(ps)._2
    r.extra("passes") = passes
    r.extra("batches") = batches.size
    r.extra("input_docs") = inputDocs

    if (t.on) {
      val n = passes.toDouble
      val tot = Streams.totals(ps)
      Seq("trigger_ms", "add_batch_ms", "query_planning_ms", "wal_commit_ms",
        "commit_offsets_ms", "latest_offset_ms", "state_update_ms", "state_commit_ms",
        "rows_dropped_by_watermark", "input_rows").foreach { k =>
        r.layers(s"stream.$k") = tot(k) / n
      }
      r.layers("stream.batches_per_run") = tot("batches") / n
      val (stRows, stMem) = Streams.lastState(ps)
      r.layers("stream.state_rows") = stRows
      r.layers("stream.state_mem_bytes") = stMem
      // from the start call to the query's start event, per pass
      val starts = streams.startsSince(0)
      r.layers("stream.start_ms") =
        starts.zip(startCalls).map { case (a, b) => (a - b).toDouble }.sum / n
      val c = counters.sum("batch")
      Seq("exec_s", "jobs", "stages", "tasks", "cpu_s", "shuffle_write_bytes",
        "shuffle_read_bytes", "spill_bytes", "input_bytes").foreach { k =>
        r.layers(s"spark.$k") = c(k) / n
      }
      r.layers("spark.stage_skew_max") = c("stage_skew_max")
      r.layers("curation.docs_per_s") = inputDocs * n / r.opsS.sum
      batchSpans.zipWithIndex.foreach { case ((span, np), i) =>
        val end = batchSpans.lift(i + 1).map(_._2).getOrElse(lastProgress)
        Streams.phaseSpans(t, span, streams.progressSince(np).take(math.max(0, end - np)),
          ms => ms * 1000000L - wall0)
      }
    }
  }

  /** Each stage of the DAG must both keep and drop documents; a dead
    * gate would make the workload stop measuring that stage. */
  private def gateLiveness(r: Result, docs: DataFrame, model: DataFrame, kept: Long): Unit = {
    val n = docs.count()
    val quality = StreamingCuration.curate(docs, MinScore)
    val nq = quality.count()
    val gated = StreamingCuration.piiGate(quality, redact = true)
    val band = StreamingCuration.surprisalGateWithText(gated, model, SurLo, SurHi)
    val ns = band.count()
    r.layers("curation.quality_kept_frac") = nq.toDouble / n
    r.layers("curation.surprisal_kept_frac") = ns.toDouble / math.max(1L, nq)
    r.layers("curation.dedup_kept_frac") = kept.toDouble / math.max(1L, ns)
    r.check("every curation gate keeps and drops documents",
      0 < nq && nq < n && 0 < ns && ns < nq && 0 < kept && kept < ns,
      s"input $n, quality $nq, surprisal $ns, dedup $kept")
  }
}
