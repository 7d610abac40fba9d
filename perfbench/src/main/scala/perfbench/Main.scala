package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]]. `gate` maps each dump
  * under `<work>/gate/` to its DuckDB oracle; `gateOps` to the number of
  * timed operations a mismatch in that dump makes wrong. */
final case class Outcome(
    e2e: Map[String, Double],
    layers: Map[String, Double],
    record: Map[String, Any],
    attempted: Long,
    failed: Long,
    gate: Map[String, String],
    gateOps: Map[String, Long])

/** Everything a workload needs: the session, its inputs and the run's
  * settings. The listener is attached only while a traced unit runs. */
final class Ctx(val spark: SparkSession, val sf: String, val work: String, val seed: Long,
    val seconds: Double, val trace: Boolean, val params: Map[String, String]) {
  val spans = new Spans(s"${params.getOrElse("workload", "?")}-$seed-${System.currentTimeMillis()}")
  val jobs = new JobLog
  val cpus: Int = spark.sparkContext.defaultParallelism

  def int(k: String): Int = params(k).toInt
  def num(k: String): Double = params(k).toDouble

  /** Run `body` with the job listener attached when `traced`. */
  def tracing[A](traced: Boolean)(body: => A): A =
    if (!traced) body
    else {
      spark.sparkContext.addSparkListener(jobs)
      try body
      finally {
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(jobs)
      }
    }

  /** Wall-clock ms at which setup ended (the first timed operation). */
  var setupEndMs: Double = Double.NaN
  def markSetupDone(): Unit =
    if (setupEndMs.isNaN) setupEndMs = System.currentTimeMillis().toDouble

  /** Storage memory still held by persisted relations. */
  def storageBytes: Long = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
}

/** Runs one workload in this JVM and writes `<work>/result.json` (and, when
  * traced, `<work>/spans.jsonl`). `perfbench/run.py` builds the inputs,
  * starts this, runs the correctness gate and prints the result line.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *             --work DIR [--param key=value ...]
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toSeq
    val a = opts.filter(_._1 != "param").toMap
    val params = opts.filter(_._1 == "param").map { case (_, kv) =>
      val Array(k, v) = kv.split("=", 2); k -> v
    }.toMap + ("workload" -> a("workload"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", java.lang.Runtime.getRuntime.availableProcessors.toString)
    val work = a("work")
    // The session settings graft.Bench uses, with every local path moved
    // under the run's work directory.
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.locality.wait", "0")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.streaming.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, a("data"), work, a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", params)
    val out = a("workload") match {
      case "ingest_stream" => Ingest.run(ctx)
      case "olap_refresh" => ClosedLoop.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    val setupS = (ctx.setupEndMs - Jvm.startMs) / 1000.0
    val record = out.record ++ Map(
      "spark_version" -> spark.version,
      "jvm_version" -> System.getProperty("java.vm.version"),
      "cpus" -> ctx.cpus)
    Files.writeString(Paths.get(s"$work/result.json"), Json.obj(
      "e2e" -> (out.e2e + ("setup_s" -> setupS) + ("live_heap_mb_peak" -> Jvm.liveHeapMbPeak)),
      "layers" -> out.layers,
      "record" -> record,
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "gate" -> out.gate,
      "gate_ops" -> out.gateOps))
    if (ctx.trace)
      Files.write(Paths.get(s"$work/spans.jsonl"),
        java.util.Arrays.asList(ctx.spans.toJsonLines: _*))
    spark.stop()
  }
}
