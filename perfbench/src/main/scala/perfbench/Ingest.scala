package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.DoubleType

import graft.SparkEntry
import graft.etl.{EtlFixtures, Pipeline}

/** The open-loop ingest workload. Set-up writes the reference-shaped CSV
  * fixtures, permutes the transaction rows with the seed and cuts them into
  * large backlog files (in the landing directory before the query starts)
  * and small live files (staged beside it). The query drains the backlog,
  * then one generator thread renames the live files into the landing
  * directory on a fixed schedule that does not wait for the pipeline. */
object Ingest {

  /** Order of the phases inside `triggerExecution` in a micro-batch. */
  private val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  private final case class Batch(p: StreamingQueryProgress) {
    val id: Long = p.batchId
    val rows: Long = p.numInputRows
    val startMs: Double = Instant.parse(p.timestamp).toEpochMilli.toDouble
    def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val triggerMs: Double = d("triggerExecution")
    val commitMs: Double = startMs + triggerMs
  }

  private def now: Double = System.currentTimeMillis().toDouble

  private def writeCsv(f: File, header: String, rows: Seq[String]): Unit =
    Files.write(f.toPath, (header +: rows).asJava, UTF_8)

  def run(ctx: Ctx): Outcome = {
    import ctx.{spark, sf, spans, work}
    val rate = ctx.num("live_files_per_s")
    val liveRows = ctx.int("live_file_rows")
    val maxFiles = ctx.int("max_files_per_trigger")
    val nLive = math.round(rate * ctx.seconds).toInt

    // --- set-up: fixtures, seeded split, warm-up drain ---
    // The fixtures depend only on the base tables and the program, so runs
    // of one build share them; the seeded split below is per run.
    val fx = ctx.params("fixtures_dir")
    if (!new File(s"$fx/_DONE").exists) {
      EtlFixtures.write(spark, sf, fx, nFiles = 1)
      Files.createFile(new File(s"$fx/_DONE").toPath)
    }
    val csvs = new File(s"$fx/transactions").listFiles.filter(_.getName.endsWith(".csv")).sortBy(_.getName)
    val header = Files.readAllLines(csvs.head.toPath, UTF_8).get(0)
    val rows = csvs.toSeq.flatMap(f => Files.readAllLines(f.toPath, UTF_8).asScala.drop(1))
    val shuffled = new Random(ctx.seed).shuffle(rows.toVector)
    val liveChunks = shuffled.take(nLive * liveRows).grouped(liveRows).toVector
    val backlog = shuffled.drop(nLive * liveRows)
    val nBacklog = ctx.int("backlog_files")
    val landing = new File(s"$work/landing"); landing.mkdirs()
    val staging = new File(s"$work/staging"); staging.mkdirs()
    backlog.grouped(math.ceil(backlog.size.toDouble / nBacklog).toInt).zipWithIndex.foreach {
      case (chunk, i) => writeCsv(new File(landing, f"backlog-$i%05d.csv"), header, chunk)
    }
    val liveFiles = liveChunks.zipWithIndex.map { case (chunk, i) =>
      val f = new File(staging, f"live-$i%05d.csv"); writeCsv(f, header, chunk); f
    }
    val cust = s"$fx/customer_master"
    val prod = s"$fx/product_master"
    val warm = new File(s"$work/warmup-landing"); warm.mkdirs()
    shuffled.take(2 * liveRows).grouped(liveRows).zipWithIndex.foreach { case (c, i) =>
      writeCsv(new File(warm, f"warm-$i%05d.csv"), header, c)
    }
    Jvm.log("fixtures written")
    Pipeline.start(spark, warm.getPath, cust, prod, s"$work/warmup-wh", 1).awaitTermination()
    Jvm.log("warm-up drain done")

    // --- timed: catch-up, then the live schedule ---
    val batches = new ConcurrentLinkedQueue[Batch]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) batches.add(Batch(e.progress))
    }
    spark.streams.addListener(listener)
    def committedRows: Long = batches.asScala.map(_.rows).sum
    def waitRows(n: Long, timeoutMs: Double): Unit = {
      val t0 = now
      while (committedRows < n) {
        if (now - t0 > timeoutMs) sys.error(s"ingest stalled: ${committedRows} of $n rows committed")
        Thread.sleep(5)
      }
    }
    val whDir = s"$work/wh"
    ctx.markSetupDone()
    val gc0 = Jvm.gcMs
    val explicit0 = Jvm.explicitMs
    val tracedWindows = ArrayBuffer[(Double, Double)]()
    def traced[A](on: Boolean)(body: => A): A = {
      val a = now
      try ctx.tracing(on)(body) finally if (on) tracedWindows += ((a, now))
    }
    val qStart = now
    val query = Pipeline.start(spark, landing.getPath, cust, prod, whDir, maxFiles,
      Trigger.ProcessingTime(ctx.int("trigger_ms").toLong))
    traced(ctx.trace)(waitRows(backlog.size, 300000))
    val catchupEnd = batches.asScala.map(_.commitMs).max
    Jvm.log("catch-up done")

    // Open loop: file k is due at t0 + k / rate whatever the pipeline does.
    val liveStart = now + 50
    val due = Array.tabulate(nLive)(k => liveStart + k * 1000.0 / rate)
    val landed = Array.fill(nLive)(Double.NaN)
    val nLanded = new AtomicInteger()
    val gen = new Thread(() => {
      for (k <- 0 until nLive) {
        val wait = due(k) - now
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        val f = liveFiles(k)
        Files.setLastModifiedTime(f.toPath, FileTime.fromMillis(System.currentTimeMillis()))
        Files.move(f.toPath, new File(landing, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
        landed(k) = now
        nLanded.incrementAndGet()
      }
    }, "perfbench-generator")
    val backlogSamples = ArrayBuffer[(Double, Double)]()
    def sampleUntil(t: Double): Unit = while (now < t) {
      val doneFiles = (committedRows - backlog.size) / liveRows.toDouble
      backlogSamples += ((now, nLanded.get - doneFiles))
      Thread.sleep(20)
    }
    gen.start()
    val mid = liveStart + ctx.seconds * 500
    traced(false)(sampleUntil(mid))
    traced(ctx.trace) {
      sampleUntil(due.last)
      gen.join()
      waitRows(rows.size, 120000)
    }
    val gcMs = Jvm.collectorMs(gc0, explicit0)
    val storageEnd = ctx.storageBytes
    query.stop()
    spark.streams.removeListener(listener)
    Jvm.sampleLiveHeap()
    Jvm.log("live phase done")

    // --- which batch loaded which live file: the source's own log ---
    val fileBatch = sourceLog(s"$whDir/_checkpoint/sources/0")
    val all = batches.asScala.toSeq.sortBy(_.id)
    val byId = all.map(b => b.id -> b).toMap
    val loadedBy = liveFiles.map(f => byId(fileBatch(f.getName)))
    val fresh = liveFiles.indices.map(k => loadedBy(k).commitMs - due(k))
    val liveBatches = all.filter(_.startMs >= liveStart - 1)
    val postCommit = liveBatches.map { b =>
      (b.commitMs / 1000, landed.count(t => !t.isNaN && t <= b.commitMs) -
        liveBatches.filter(_.id <= b.id).map(_.rows).sum / liveRows.toDouble)
    }
    val growth = Stats.fit(postCommit)._2 // files per second
    val sustainable = !(growth > 0.1 * rate)
    val catchupS = (catchupEnd - qStart) / 1000
    val e2e = Map(
      "latency_ms_p50" -> Stats.pct(fresh, 0.5),
      "latency_ms_p90" -> Stats.pct(fresh, 0.9),
      "bulk_s" -> catchupS)

    // Spans: phases from the progress reports, laid out in execution order.
    val catchSpan = spans.addWall("catchup", "etl", 0, qStart, catchupEnd)
    val liveSpan = spans.addWall("live", "etl", 0, liveStart, all.map(_.commitMs).max)
    val batchSpans = all.map { b =>
      val parent = if (b.commitMs <= catchupEnd) catchSpan.id else liveSpan.id
      val s = spans.addWall(s"batch-${b.id}", "etl", parent, b.startMs, b.commitMs)
      var t = b.startMs
      Phases.foreach { ph =>
        val d = b.d(ph) min (b.commitMs - t)
        if (d > 0) spans.addWall(ph, "etl", s.id, t, t + d)
        t += d max 0
      }
      b -> s
    }
    val layers = if (!ctx.trace) Map.empty[String, Double] else {
      val work = ctx.jobs.attribute(batchSpans.map(_._2))
      def inTraced(b: Batch) = tracedWindows.exists { case (a, z) => b.startMs >= a && b.commitMs <= z }
      def outsideTraced(b: Batch) = tracedWindows.forall { case (a, z) => b.commitMs < a || b.startMs > z }
      val tracedBatches = batchSpans.filter { case (b, _) => inTraced(b) }
      val tw = tracedBatches.map { case (_, s) => work.getOrElse(s.id, Work()) }
      val twSum = tw.foldLeft(Work())(_ + _)
      val nTb = tracedBatches.size.max(1).toDouble
      val (fixed, slope) = Stats.fit(all.map(b => (b.rows / 1000.0, b.triggerMs)))
      val liveSpanMs = liveBatches.map(_.commitMs).max - liveStart
      def p50(f: Batch => Double): Double = Stats.median(all.map(f))
      // freshness of the live files loaded by traced vs untraced batches
      val tracedFresh = liveFiles.indices.filter(k => inTraced(loadedBy(k))).map(fresh)
      val untracedFresh = liveFiles.indices.filter(k => outsideTraced(loadedBy(k))).map(fresh)
      Map(
        "etl.batches" -> all.size.toDouble,
        "etl.batch_rows_p50" -> p50(_.rows.toDouble),
        "etl.trigger_ms_p50" -> p50(_.triggerMs),
        "etl.trigger_ms_p90" -> Stats.pct(all.map(_.triggerMs), 0.9),
        "etl.add_batch_ms_p50" -> p50(_.d("addBatch")),
        "etl.source_ms_p50" -> p50(b => b.d("latestOffset") + b.d("getBatch")),
        "etl.planning_ms_p50" -> p50(_.d("queryPlanning")),
        "etl.checkpoint_ms_p50" -> p50(b => b.d("walCommit") + b.d("commitOffsets")),
        "etl.fixed_ms" -> fixed,
        "etl.ms_per_krow" -> slope,
        "etl.jobs_per_batch" -> twSum.jobs / nTb,
        "etl.tasks_per_batch" -> twSum.tasks / nTb,
        "etl.rows_read_per_row_loaded" ->
          twSum.recordsRead / tracedBatches.map(_._1.rows.toDouble).sum.max(1),
        "etl.busy_share" -> liveBatches.map(_.triggerMs).sum / liveSpanMs,
        "etl.backlog_files_max" -> backlogSamples.map(_._2).maxOption.getOrElse(0.0),
        "etl.generator_late_ms_max" -> landed.indices.map(k => landed(k) - due(k)).max,
        "etl.coverage" -> all.map(b => Phases.map(b.d).sum).sum / all.map(_.triggerMs).sum,
        "runtime.gc_ms" -> gcMs.toDouble,
        "runtime.task_cpu_s" -> twSum.taskCpuNs / 1e9,
        "runtime.storage_bytes_end" -> storageEnd.toDouble,
        "trace.overhead_pct" -> 100 * (Stats.median(tracedFresh) / Stats.median(untracedFresh) - 1))
    }

    // --- correctness gate: the warehouse against the ETL oracles ---
    // The projections of EtlQueries' etl_* entries, whose own builds read the
    // warehouse their private pipeline run writes, not this one.
    def wh(t: String) = spark.read.parquet(s"$whDir/$t")
    val dumps = Map(
      "etl_dim_customer" -> wh("customer_dim").orderBy(col("customer_id")),
      "etl_dim_product" -> wh("product_dim").withColumn("price", col("price").cast(DoubleType))
        .orderBy(col("product_id")),
      "etl_dim_time" -> wh("time_dim").orderBy(col("date_id")),
      "etl_fact_sales" -> wh("salefact")
        .select(col("order_id"), col("customer_id"), col("product_id"), col("date_id"),
          col("quantity"), col("purchase_amount").cast(DoubleType).as("purchase_amount"))
        .orderBy(col("order_id"), col("customer_id"), col("product_id"), col("date_id"),
          col("quantity"), col("purchase_amount")))
    dumps.foreach { case (n, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$work/gate/$n")
    }
    Jvm.log("gate dumps written")
    val oracle = SparkEntry.oracleSql
    val record = Map(
      "sustainable" -> sustainable,
      "backlog_growth_files_per_s" -> growth,
      "backlog_over_time" -> backlogSamples.grouped(25).map(_.head).map { case (t, b) =>
        Seq((t - liveStart) / 1000, b) }.toSeq,
      "live_files" -> nLive,
      "live_split_hash" -> liveChunks.flatten.hashCode,
      "backlog_rows" -> backlog.size,
      "total_rows" -> rows.size,
      "batches" -> all.size,
      "freshness_ms_p50" -> e2e("latency_ms_p50"),
      "freshness_ms_p90" -> e2e("latency_ms_p90"),
      "tail_samples_beyond_p90" -> (fresh.size - math.ceil(0.9 * fresh.size).toInt),
      "catchup_s" -> catchupS,
      "catchup_rows_per_s" -> backlog.size / catchupS)
    Outcome(e2e, layers, record, attempted = all.size, failed = 0,
      gate = dumps.keys.map(n => n -> oracle(n)).toMap,
      gateOps = dumps.keys.map(n => n -> all.size.toLong).toMap)
  }

  /** File name -> batch id, from a file source's metadata log (plain and
    * compacted entries). */
  private def sourceLog(dir: String): Map[String, Long] = {
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored
    new File(dir).listFiles.toSeq.filter(_.getName.matches("""\d+(\.compact)?""")).flatMap { f =>
      Files.readAllLines(f.toPath, UTF_8).asScala.flatMap {
        case entry(p, id) => Some(p.substring(p.lastIndexOf('/') + 1) -> id.toLong)
        case _ => None
      }
    }.toMap
  }
}
