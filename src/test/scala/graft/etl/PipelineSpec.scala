package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.SparkSpec

/** Streaming-level tests (SURVEY §5.5): batch-boundary invariance of the
  * full pipeline, MemoryStream-driven enrichment equivalence, and restart
  * after a crash inside a micro-batch (ST8). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def sortedTables(wh: String, keepBatchId: Boolean = false): Map[String, Array[Row]] =
    Seq("customer_dim", "product_dim", "time_dim").map { t =>
      val df = spark.read.parquet(s"$wh/$t")
      t -> df.orderBy(df.columns.map(col): _*).collect()
    }.toMap +
      ("salefact" -> {
        // batch_id is EXPECTED to differ across splits — exclude it
        val all = spark.read.parquet(s"$wh/salefact")
        val f = if (keepBatchId) all else all.drop("batch_id")
        f.orderBy(f.columns.map(col): _*).collect()
      })

  test("batch-boundary invariance: 1 file vs 4 files yield identical tables") {
    val base = Files.createTempDirectory("graft_inv").toString
    val txns = (0 until 200).map { i =>
      (i, s"${1 + i % 12}/${1 + i % 28}/2020", 1 + i % 20, f"P${1 + i % 30}%08d", 1 + i % 5)
    }.toDF("orderID", "date", "Customer_ID", "Product_ID", "quantity")
    val customers = (1 to 20).map(i => (i, if (i % 2 == 0) "F" else "M", 26, "1", "A", "1", "0"))
      .toDF("customer_id", "gender", "age", "occupation", "city_category",
        "stay_in_current_city_years", "marital_status")
    val products = (1 to 30).map(i => (f"P$i%08d", "Cat", BigDecimal(i).setScale(2), i % 3, s"S$i", i % 5, s"Sup$i"))
      .toDF("product_id", "product_category", "price", "store_id",
        "store_name", "supplier_id", "supplier_name")

    def runSplit(n: Int): Map[String, Array[Row]] = {
      val dir = s"$base/split$n"
      txns.repartition(n).write.option("header", "true").csv(s"$dir/txns")
      customers.coalesce(1).write.option("header", "true").csv(s"$dir/cust")
      products.coalesce(1).write.option("header", "true").csv(s"$dir/prod")
      val stream = spark.readStream.schema(Schemas.transaction)
        .option("header", "true").option("maxFilesPerTrigger", 1)
        .csv(s"$dir/txns")
      val cDf = spark.read.option("header", "true").csv(s"$dir/cust")
        .select(col("customer_id").cast("int"), col("gender"), col("age").cast("int"),
          col("occupation"), col("city_category"),
          col("stay_in_current_city_years"), col("marital_status"))
      val pDf = spark.read.option("header", "true").csv(s"$dir/prod")
        .select(col("product_id"), col("product_category"),
          col("price").cast("decimal(10,2)"), col("store_id").cast("int"),
          col("store_name"), col("supplier_id").cast("int"), col("supplier_name"))
      val q = Enrich.enrich(stream, cDf, pDf)
        .writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) =>
          WarehouseSink.load(b, id, s"$dir/wh")
        }
        .start()
      q.awaitTermination()
      sortedTables(s"$dir/wh")
    }

    val one = runSplit(1)
    val four = runSplit(4)
    one.keys.foreach { t =>
      assert(one(t).sameElements(four(t)), s"table $t differs between splits")
    }
    assert(one("salefact").nonEmpty)
  }

  test("MemoryStream enrichment == batch enrichment on the same tuples") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, String, Int, String, Int)]
    val dir = Files.createTempDirectory("graft_mem").toString

    val customers = Seq((1, "F", 26, "1", "A", "1", "0"), (2, "M", 55, "2", "B", "2", "1"))
      .toDF("customer_id", "gender", "age", "occupation", "city_category",
        "stay_in_current_city_years", "marital_status")
    val products = Seq(("P1", "Cat", BigDecimal(5).setScale(2), 1, "S", 1, "Sup"))
      .toDF("product_id", "product_category", "price", "store_id",
        "store_name", "supplier_id", "supplier_name")

    val stream = mem.toDF()
      .toDF("orderID", "date", "Customer_ID", "Product_ID", "quantity")
    val q = Enrich.enrich(stream, customers, products)
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (b: DataFrame, id: Long) => WarehouseSink.load(b, id, s"$dir/wh") }
      .start()
    mem.addData((1, "1/2/2020", 1, "P1", 2), (2, "1/3/2020", 3, "P1", 1))
    q.processAllAvailable()
    mem.addData((3, "2/4/2020", 2, "P1", 4))
    q.processAllAvailable()
    q.stop()

    val factStream = spark.read.parquet(s"$dir/wh/salefact")
      .drop("batch_id").orderBy("order_id")

    val batchTxns = Seq(
      (1, "1/2/2020", 1, "P1", 2), (2, "1/3/2020", 3, "P1", 1),
      (3, "2/4/2020", 2, "P1", 4))
      .toDF("orderID", "date", "Customer_ID", "Product_ID", "quantity")
    val dirB = Files.createTempDirectory("graft_mem_b").toString
    WarehouseSink.load(Enrich.enrich(batchTxns, customers, products), 0L, dirB)
    val factBatch = spark.read.parquet(s"$dirB/salefact")
      .drop("batch_id").orderBy("order_id")

    assert(factStream.collect().sameElements(factBatch.collect()))
    assert(factStream.count() == 2) // customer 3 evicted by J1
  }

  test("ST8: a crash after the dim appends and before the fact write restarts to identical tables") {
    val base = Files.createTempDirectory("graft_crash").toString
    val fx = s"$base/fx"
    EtlFixtures.write(spark, sf001, fx, nFiles = 4)
    val (txns, cust, prod) = (s"$fx/transactions", s"$fx/customer_master", s"$fx/product_master")
    def dimKeys(wh: String): Long =
      Seq("customer_dim", "product_dim", "time_dim").map(t => spark.read.parquet(s"$wh/$t").count()).sum

    Pipeline.run(spark, txns, cust, prod, s"$base/clean", maxFilesPerTrigger = 1)

    // The query Pipeline.start builds, with a foreachBatch wrapper that
    // loads batch 1, removes its fact partition (the state of a crash before
    // the fact write) and fails the query.
    val wh = s"$base/crashed"
    var keysAfterBatch0, keysAfterBatch1 = 0L
    val sink = new WarehouseSink(wh)
    val stream = spark.readStream.schema(Schemas.transaction)
      .option("header", "true").option("maxFilesPerTrigger", 1).csv(txns)
    val q = Enrich.enrich(stream, Pipeline.loadCustomerMaster(spark, cust),
      Pipeline.loadProductMaster(spark, prod))
      .writeStream
      .option("checkpointLocation", s"$wh/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        sink.load(b, id)
        if (id == 0) keysAfterBatch0 = dimKeys(wh)
        if (id == 1) {
          keysAfterBatch1 = dimKeys(wh)
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$wh/salefact/batch_id=1"))
          throw new IllegalStateException("injected crash before the fact write")
        }
      }
      .start()
    intercept[StreamingQueryException](q.awaitTermination())
    assert(keysAfterBatch1 > keysAfterBatch0, "batch 1 appended no dimension key")
    assert(!new java.io.File(s"$wh/salefact/batch_id=1").exists())

    Pipeline.run(spark, txns, cust, prod, wh, maxFilesPerTrigger = 1) // restart

    Seq("customer_dim" -> "customer_id", "product_dim" -> "product_id", "time_dim" -> "date_id")
      .foreach { case (t, k) =>
        val d = spark.read.parquet(s"$wh/$t")
        assert(d.count() == d.select(k).distinct().count(), s"duplicated key in $t")
      }
    val clean = sortedTables(s"$base/clean", keepBatchId = true)
    val restarted = sortedTables(wh, keepBatchId = true)
    clean.keys.foreach { t =>
      assert(clean(t).sameElements(restarted(t)), s"table $t differs from the uninterrupted run")
    }
    assert(clean("salefact").map(_.getAs[Any]("batch_id")).distinct.length == 4)
  }
}
