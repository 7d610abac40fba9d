package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The streaming ETL pipeline (the reference's entire engine,
  * `hybrid_join.py`, re-expressed Spark-native — SURVEY §3.1):
  *
  *   readStream CSV (S4; micro-batch admission via `maxFilesPerTrigger`,
  *   S5/S6/ST1/ST2 — replaces the producer thread + unbounded queue + the
  *   `w` free-slot counter) → stream-static broadcast enrichment
  *   ([[Enrich]], J1/J2) → `foreachBatch` warehouse load ([[WarehouseSink]],
  *   S7-S10) → `Trigger.AvailableNow` drains the source and stops (ST6);
  *   `awaitTermination` + `query.stop()` is the graceful-shutdown story
  *   (ST7 — the reference's CTRL-C path is bugged, `hybrid_join.py:479-480`,
  *   and intentionally not replicated).
  *
  * Each query gets its own [[WarehouseSink]]. The sink holds the
  * dimensions' known keys on the driver, so a micro-batch runs a fixed set
  * of Spark jobs: the two master broadcasts, one dimension-delta aggregate,
  * the fact write, and one single-file append per dimension that gained
  * keys.
  *
  * Restart (ST8): the checkpoint directory gives exactly-once batch-id
  * tracking. A query started again on the same `whDir` builds a fresh sink,
  * which re-reads the known keys from the warehouse at its first batch.
  * The batch that was in flight is replayed: its dimension keys are found
  * on disk and not appended again, and its fact partition is overwritten.
  */
object Pipeline {

  /** S1: batch scan of a master CSV with an explicit schema. */
  def loadCustomerMaster(spark: SparkSession, path: String): DataFrame =
    Transforms.customerDimFromMaster(
      spark.read.option("header", "true").schema(Schemas.customerMaster).csv(path))

  def loadProductMaster(spark: SparkSession, path: String): DataFrame =
    Transforms.productDimFromMaster(
      spark.read.option("header", "true").schema(Schemas.productMaster).csv(path))

  /** Start the pipeline. The default `Trigger.AvailableNow` drains the
    * source and stops (ST6, batch-like completion); pass
    * `Trigger.ProcessingTime(...)` for a continuously-running deployment
    * (ST2) — the caller then owns `query.stop()` (ST7). */
  def start(
      spark: SparkSession,
      txnCsvDir: String,
      customerCsv: String,
      productCsv: String,
      whDir: String,
      maxFilesPerTrigger: Int = 3,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val customers = loadCustomerMaster(spark, customerCsv)
    val products = loadProductMaster(spark, productCsv)
    val stream = spark.readStream
      .schema(Schemas.transaction)
      .option("header", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .csv(txnCsvDir)
    val sink = new WarehouseSink(whDir)
    Enrich.enrich(stream, customers, products)
      .writeStream
      .queryName("graft-etl")
      .option("checkpointLocation", s"$whDir/_checkpoint")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) => sink.load(batch, batchId) }
      .start()
  }

  /** Run the full pipeline to completion (AvailableNow drain). */
  def run(
      spark: SparkSession,
      txnCsvDir: String,
      customerCsv: String,
      productCsv: String,
      whDir: String,
      maxFilesPerTrigger: Int = 3): Unit =
    start(spark, txnCsvDir, customerCsv, productCsv, whDir, maxFilesPerTrigger)
      .awaitTermination()
}
