package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Join-semantics and sink-semantics unit tests (SURVEY §5.2, §5.4):
  * J1 inner / J2 left-outer / P2 null filter; S7 first-write-wins;
  * S9/ST8 replay idempotence. */
class EnrichSinkSpec extends SparkSpec {
  import spark.implicits._

  private def customers(rows: (Int, String)*): DataFrame =
    rows.toDF("customer_id", "gender")
      .withColumn("age", lit(26))
      .withColumn("occupation", lit("1"))
      .withColumn("city_category", lit("A"))
      .withColumn("stay_in_current_city_years", lit("1"))
      .withColumn("marital_status", lit("0"))

  private def products(rows: (String, Double)*): DataFrame =
    rows.toDF("product_id", "p")
      .withColumn("product_category", lit("Cat"))
      .withColumn("price", col("p").cast("decimal(10,2)"))
      .withColumn("store_id", lit(1))
      .withColumn("store_name", lit("S"))
      .withColumn("supplier_id", lit(1))
      .withColumn("supplier_name", lit("Sup"))
      .drop("p")

  private def txn(order: Int, cust: Integer, prod: String): DataFrame =
    Seq((order, "1/2/2020", cust, prod, 2))
      .toDF("orderID", "date", "Customer_ID", "Product_ID", "quantity")

  test("J1 is inner: unmatched customer key is evicted") {
    val out = Enrich.enrich(txn(1, 999, "P1"), customers(1 -> "F"), products("P1" -> 5.0))
    assert(out.count() == 0)
  }

  test("P2: null customer key is dropped before the join") {
    val out = Enrich.enrich(txn(1, null, "P1"), customers(1 -> "F"), products("P1" -> 5.0))
    assert(out.count() == 0)
  }

  test("J2 is left-outer: unmatched product keeps the partial tuple") {
    val out = Enrich.enrich(txn(1, 1, "PX"), customers(1 -> "F"), products("P1" -> 5.0))
    assert(out.count() == 1)
    assert(out.select("price").collect().head.isNullAt(0))
  }

  test("sink drops product-less rows from the fact (observable-inner)") {
    val dir = Files.createTempDirectory("graft_sink").toString
    val enriched = Enrich.enrich(
      txn(1, 1, "PX").union(txn(2, 1, "P1")),
      customers(1 -> "F"), products("P1" -> 5.0))
    WarehouseSink.load(enriched, 0L, dir)
    val fact = spark.read.parquet(s"$dir/salefact")
    assert(fact.count() == 1)
    assert(fact.select("order_id").collect().head.getInt(0) == 2)
    // purchase_amount = round(2 * 5.00, 2)
    assert(fact.select(col("purchase_amount").cast("double")).collect().head.getDouble(0) == 10.0)
  }

  test("S7 first-write-wins: a later batch never updates an existing dim row") {
    val dir = Files.createTempDirectory("graft_scd0").toString
    WarehouseSink.load(
      Enrich.enrich(txn(1, 1, "P1"), customers(1 -> "F"), products("P1" -> 5.0)),
      0L, dir)
    WarehouseSink.load(
      Enrich.enrich(txn(2, 1, "P1"), customers(1 -> "M"), products("P1" -> 9.0)),
      1L, dir)
    val dim = spark.read.parquet(s"$dir/customer_dim")
    assert(dim.count() == 1)
    assert(dim.select("gender").collect().head.getString(0) == "F")
    val prod = spark.read.parquet(s"$dir/product_dim")
    assert(prod.select(col("price").cast("double")).collect().head.getDouble(0) == 5.0)
  }

  test("ST8: replaying a batch id leaves every table unchanged") {
    val dir = Files.createTempDirectory("graft_replay").toString
    val enriched = Enrich.enrich(
      txn(1, 1, "P1").union(txn(2, 2, "P1")),
      customers(1 -> "F", 2 -> "M"), products("P1" -> 5.0))
    WarehouseSink.load(enriched, 7L, dir)
    val before = spark.read.parquet(s"$dir/salefact").orderBy("order_id").collect()
    WarehouseSink.load(enriched, 7L, dir) // at-least-once replay
    val after = spark.read.parquet(s"$dir/salefact").orderBy("order_id").collect()
    assert(before.sameElements(after))
    assert(spark.read.parquet(s"$dir/customer_dim").count() == 2)
    assert(spark.read.parquet(s"$dir/time_dim").count() == 1)
  }

  test("known keys: one sink appends each key once; a batch of known keys writes no dim file") {
    val dir = Files.createTempDirectory("graft_known").toString
    val overwriteMode = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.getOption(overwriteMode)
    val c = customers(1 -> "F", 2 -> "M")
    val p = products("P1" -> 5.0, "P2" -> 7.0)
    def batch(rows: (Int, String, Int, String)*): DataFrame = Enrich.enrich(
      rows.map { case (o, d, cu, pr) => (o, d, cu, pr, 1) }
        .toDF("orderID", "date", "Customer_ID", "Product_ID", "quantity"), c, p)
    def dimFiles: Map[String, Set[String]] =
      Seq("customer_dim", "product_dim", "time_dim").map { t =>
        t -> new java.io.File(s"$dir/$t").list().filter(_.endsWith(".parquet")).toSet
      }.toMap

    val sink = new WarehouseSink(dir)
    sink.load(batch((1, "1/2/2020", 1, "P1"), (2, "1/3/2020", 2, "P1")), 0L)
    sink.load(batch((3, "1/3/2020", 1, "P2")), 1L) // only P2 is new
    val files = dimFiles
    // one file per non-empty append: customers and dates in batch 0, products in 0 and 1
    assert(files.map { case (t, fs) => t -> fs.size } ==
      Map("customer_dim" -> 1, "product_dim" -> 2, "time_dim" -> 1))

    sink.load(batch((4, "1/2/2020", 2, "P2"), (5, "1/3/2020", 1, "P1")), 2L)
    // S7 holds across the sink's state: changed master attributes add nothing
    sink.load(Enrich.enrich(txn(6, 1, "P1"), customers(1 -> "M"), products("P1" -> 9.0)), 3L)
    assert(dimFiles == files)

    val cust = spark.read.parquet(s"$dir/customer_dim")
    assert(cust.count() == 2 && cust.select("customer_id").distinct().count() == 2)
    assert(cust.where(col("customer_id") === 1).select("gender").as[String].collect().toSeq == Seq("F"))
    val prod = spark.read.parquet(s"$dir/product_dim")
    assert(prod.count() == 2 && prod.select("product_id").distinct().count() == 2)
    assert(prod.where(col("product_id") === "P1").select(col("price").cast("double"))
      .as[Double].collect().toSeq == Seq(5.0))
    assert(spark.read.parquet(s"$dir/time_dim").count() == 2)
    // every batch keeps its own fact partition under the session's overwrite mode
    val fact = spark.read.parquet(s"$dir/salefact")
    assert(fact.select("batch_id").distinct().count() == 4 && fact.count() == 6)
    assert(spark.conf.getOption(overwriteMode) == modeBefore)
  }

  private def dated(order: Int, date: String): DataFrame =
    Seq((order, date, 1, "P1", 1)).toDF("orderID", "date", "Customer_ID", "Product_ID", "quantity")

  private def timeKeys(dir: String): Seq[Any] =
    spark.read.parquet(s"$dir/time_dim").select("date_id").collect().map(_.get(0)).toSeq

  test("S8: a null date feeds no time_dim row and does not stop later dates") {
    val dir = Files.createTempDirectory("graft_nulldate").toString
    val c = customers(1 -> "F"); val p = products("P1" -> 5.0)
    val sink = new WarehouseSink(dir)
    sink.load(Enrich.enrich(dated(1, null), c, p), 0L) // first batch: known set empty
    sink.load(Enrich.enrich(dated(2, "1/3/2020"), c, p), 1L)
    assert(timeKeys(dir) == Seq(20200103L))
  }

  test("S8: seeding skips a null date_id already on disk") {
    val dir = Files.createTempDirectory("graft_nullseed").toString
    val c = customers(1 -> "F"); val p = products("P1" -> 5.0)
    WarehouseSink.load(Enrich.enrich(dated(1, "1/2/2020"), c, p), 0L, dir)
    val t = spark.read.parquet(s"$dir/time_dim")
    t.select(t.columns.map(n => lit(null).cast(t.schema(n).dataType).as(n)): _*)
      .write.mode("append").parquet(s"$dir/time_dim")
    WarehouseSink.load(Enrich.enrich(dated(2, "1/3/2020"), c, p), 1L, dir) // re-seeds
    assert(timeKeys(dir).filter(_ != null).sortBy(_.toString) == Seq(20200102L, 20200103L))
  }

  test("S8: time_dim accumulates distinct dates across batches, no dupes") {
    val dir = Files.createTempDirectory("graft_time").toString
    val c = customers(1 -> "F"); val p = products("P1" -> 5.0)
    WarehouseSink.load(Enrich.enrich(
      Seq((1, "1/2/2020", 1, "P1", 1), (2, "1/3/2020", 1, "P1", 1))
        .toDF("orderID", "date", "Customer_ID", "Product_ID", "quantity"), c, p), 0L, dir)
    WarehouseSink.load(Enrich.enrich(
      Seq((3, "1/3/2020", 1, "P1", 1), (4, "2/1/2020", 1, "P1", 1))
        .toDF("orderID", "date", "Customer_ID", "Product_ID", "quantity"), c, p), 1L, dir)
    val t = spark.read.parquet(s"$dir/time_dim")
    assert(t.count() == 3)
    assert(t.select("date_id").distinct().count() == 3)
  }
}
