package perfbench

import java.util.concurrent.Executors

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.warehouse.Warehouse

/** The closed-loop workload: one client runs a cycle, then the next. A cycle
  * refreshes the warehouse (`Warehouse.rebuild`), runs a pass over the
  * operator set, then calls each OLAP entry once; entry order within each
  * group is drawn from the seed. Each call is split into build (the
  * `SparkEntry.queries(name)` call), plan (forcing the executed plan) and
  * exec (a noop write). */
object ClosedLoop {

  val OlapEntries: Seq[String] = Seq(
    "q01_top5_products_daytype", "q02_gender_age_city", "q03_category_occupation",
    "q04_gender_age_quarter", "q05_top5_occupations", "q06_city_marital_6m",
    "q07_avg_stay_gender", "q08_top5_city_category", "q09_mom_growth",
    "q10_age_daytype", "q11_top5_category_month", "q13_supplier_store_product",
    "q14_seasonal", "q15_revenue_volatility", "q16_basket_pairs", "q17_rollup",
    "q18_h1_h2", "q20_store_quarterly_view",
    "sql_q01_top5_products_daytype", "sql_q06_city_marital_6m", "sql_q09_mom_growth",
    "sql_q16_basket_pairs", "sql_q17_rollup", "sql_q18_h1_h2")

  private final case class Call(name: String, layer: String, traced: Boolean, ok: Boolean,
      span: Span, parts: Map[String, Span]) {
    def wallMs: Double = span.ms
  }

  private final case class Cycle(span: Span, rebuild: Span, ops: Span, traced: Boolean)

  def run(ctx: Ctx): Outcome = {
    import ctx.{spark, sf, spans}
    val operators = ctx.params("operators").split(",").toSeq
    val entries = SparkEntry.queries
    val calls = ArrayBuffer[Call]()
    val cycles = ArrayBuffer[Cycle]()

    def call(name: String, layer: String, parent: Int, traced: Boolean): Unit = {
      val parts = scala.collection.mutable.Map[String, Span]()
      def part[A](p: String, id: Int)(body: => A): A = {
        val (r, s) = spans.timed(p, layer, id)(_ => body)
        parts(p) = s
        r
      }
      val (ok, s) = spans.timed(name, layer, parent) { id =>
        try {
          val df = part("build", id)(entries(name)(spark, sf))
          part("plan", id)(df.queryExecution.executedPlan)
          part("exec", id)(df.write.format("noop").mode("overwrite").save())
          true
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] $name failed: $e")
            false
        }
      }
      calls.synchronized(calls += Call(name, layer, traced, ok, s, parts.toMap))
    }

    def cycle(i: Int, traced: Boolean): Unit = ctx.tracing(traced) {
      val rnd = new Random(ctx.seed * 7919 + i)
      var rb, op: Span = null
      val (_, c) = spans.timed("cycle", "bench") { id =>
        rb = spans.timed("rebuild", "warehouse", id)(_ => Warehouse.rebuild(spark, sf))._2
        op = spans.timed("operator_pass", "operators", id) { pid =>
          rnd.shuffle(operators).foreach(call(_, "operators", pid, traced))
        }._2
        rnd.shuffle(OlapEntries).foreach(call(_, "queries", id, traced))
      }
      cycles += Cycle(c, rb, op, traced)
    }

    // Set-up: the first warehouse build (beside the operators, which do not
    // read it), then one call of every entry, which writes its result for
    // the correctness gate. The OLAP entries run on a pool of cpus threads:
    // first calls are dominated by code generation and JIT, which
    // parallelise. Operators run alone: some flip session-wide settings.
    Jvm.log("session ready")
    val dumpFailed = {
      val pool = Executors.newFixedThreadPool(ctx.cpus)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val built = Future(Warehouse.rebuild(spark, sf))
        val opsFailed = operators.flatMap(n => dump(ctx, n, entries(n)))
        Await.result(built, Duration.Inf)
        Jvm.log("warehouse built, operators dumped")
        opsFailed ++ OlapEntries.map(n => Future(dump(ctx, n, entries(n))))
          .flatMap(Await.result(_, Duration.Inf))
      } finally pool.shutdown()
    }
    Jvm.log("set-up pass done")

    ctx.markSetupDone()
    val gc0 = Jvm.gcMs
    val explicit0 = Jvm.explicitMs
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < ctx.seconds || (ctx.trace && i < 2)) {
      // When tracing, every other cycle runs without the listener so the
      // run also measures the tracing overhead.
      cycle(i, traced = ctx.trace && i % 2 == 0)
      Jvm.sampleLiveHeap()
      i += 1
    }
    val gcMs = Jvm.collectorMs(gc0, explicit0)
    val storageEnd = ctx.storageBytes
    Jvm.log(s"timed part done: $i cycles")

    val queryMs = calls.filter(_.layer == "queries").map(_.wallMs).toSeq
    val bulk = cycles.map(c => (c.rebuild.ms + c.ops.ms) / 1000).toSeq
    val e2e = Map(
      "latency_ms_p50" -> Stats.pct(queryMs, 0.5),
      "latency_ms_p90" -> Stats.pct(queryMs, 0.9),
      "bulk_s" -> Stats.median(bulk))

    val layers = if (!ctx.trace) Map.empty[String, Double] else {
      val traced = calls.filter(_.traced).toSeq
      val tc = cycles.filter(_.traced).toSeq
      val n = tc.size.max(1).toDouble
      val work = ctx.jobs.attribute(traced.flatMap(_.parts.values) ++ tc.map(_.rebuild))
      def w(s: Span): Work = work.getOrElse(s.id, Work())
      def sum(ws: Iterable[Work]): Work = ws.foldLeft(Work())(_ + _)
      def callWork(c: Call): Work = sum(c.parts.values.map(w))
      def partMs(cs: Seq[Call], p: String): Seq[Double] = cs.flatMap(_.parts.get(p)).map(_.ms)
      def busy(cs: Seq[Call]): Double =
        sum(cs.map(callWork)).taskRunMs / (cs.map(_.wallMs).sum * ctx.cpus).max(1e-9)
      def coverage(cs: Seq[Call]): Double =
        cs.map(_.parts.values.map(_.ms).sum).sum / cs.map(_.wallMs).sum.max(1e-9)
      val qs = traced.filter(_.layer == "queries")
      val os = traced.filter(_.layer == "operators")
      val qWork = qs.map(callWork)
      val oWork = sum(os.map(callWork))
      val rbWork = sum(tc.map(c => w(c.rebuild)))
      val untracedMs = calls.filter(c => !c.traced && c.layer == "queries").map(_.wallMs).toSeq
      Map(
        "warehouse.rebuild_jobs" -> rbWork.jobs / n,
        "warehouse.rebuild_tasks" -> rbWork.tasks / n,
        "warehouse.shuffle_write_bytes" -> rbWork.shuffleWrite / n,
        "warehouse.bytes_written" -> rbWork.bytesWritten / n,
        "warehouse.files_written" -> warehouseFiles.toDouble,
        "queries.build_ms_p50" -> Stats.median(partMs(qs, "build")),
        "queries.plan_ms_p50" -> Stats.median(partMs(qs, "plan")),
        "queries.exec_ms_p50" -> Stats.median(partMs(qs, "exec")),
        "queries.exec_ms_p90" -> Stats.pct(partMs(qs, "exec"), 0.9),
        "queries.jobs_per_query" -> qWork.map(_.jobs.toDouble).sum / qWork.size.max(1),
        "queries.tasks_per_query" -> qWork.map(_.tasks.toDouble).sum / qWork.size.max(1),
        "queries.shuffle_bytes_per_query" -> qWork.map(_.shuffleWrite.toDouble).sum / qWork.size.max(1),
        "queries.task_busy_share" -> busy(qs),
        "queries.coverage" -> coverage(qs),
        "operators.build_s" -> partMs(os, "build").sum / 1000 / n,
        "operators.build_jobs" -> sum(os.flatMap(_.parts.get("build")).map(w)).jobs / n,
        "operators.plan_ms" -> partMs(os, "plan").sum / n,
        "operators.exec_s" -> partMs(os, "exec").sum / 1000 / n,
        "operators.jobs" -> oWork.jobs / n,
        "operators.stages" -> oWork.stages / n,
        "operators.tasks" -> oWork.tasks / n,
        "operators.shuffle_write_bytes" -> oWork.shuffleWrite / n,
        "operators.spill_bytes" -> oWork.spill / n,
        "operators.task_busy_share" -> busy(os),
        "operators.coverage" -> coverage(os),
        "runtime.gc_ms" -> gcMs.toDouble,
        "runtime.task_cpu_s" -> (sum(qWork) + oWork + rbWork).taskCpuNs / 1e9 / n,
        "runtime.storage_bytes_end" -> storageEnd.toDouble,
        "trace.overhead_pct" -> 100 * (Stats.median(qs.map(_.wallMs)) / Stats.median(untracedMs) - 1))
    }

    val oracle = SparkEntry.oracleSql
    val names = operators ++ OlapEntries
    def opsOf(n: String): Long = calls.count(c => c.name == n && c.ok).toLong
    val record = Map(
      "cycles" -> cycles.size,
      "operations" -> calls.size,
      "query_samples" -> queryMs.size,
      "tail_samples_beyond_p90" -> (queryMs.size - math.ceil(0.9 * queryMs.size).toInt),
      "operators" -> operators,
      "olap_entries" -> OlapEntries,
      "per_entry_ms_p50" -> calls.groupBy(_.name).map { case (n, cs) =>
        n -> Stats.median(cs.map(_.wallMs).toSeq) },
      "warehouse_refresh_s" -> Stats.median(cycles.map(_.rebuild.ms / 1000).toSeq),
      "operators_pass_s" -> Stats.median(cycles.map(_.ops.ms / 1000).toSeq),
      "olap_query_ms_p50" -> e2e("latency_ms_p50"),
      "olap_query_ms_p90" -> e2e("latency_ms_p90"),
      "first_cycle_order" -> calls.take(names.size).map(_.name))
    Outcome(e2e, layers, record, calls.size,
      failed = calls.count(!_.ok) + dumpFailed.map(opsOf).sum,
      gate = names.filterNot(dumpFailed.contains).map(n => n -> oracle(n)).toMap,
      gateOps = names.filterNot(dumpFailed.contains).map(n => n -> opsOf(n)).toMap)
  }

  /** The correctness gate's half inside the JVM: write one entry's result
    * for the DuckDB oracle compare. Returns the name if the call failed. */
  private def dump(ctx: Ctx, n: String, build: (SparkSession, String) => DataFrame): Option[String] =
    try {
      build(ctx.spark, ctx.sf).coalesce(1).write.mode("overwrite").parquet(s"${ctx.work}/gate/$n")
      None
    } catch { case e: Exception => System.err.println(s"[perfbench] gate $n failed: $e"); Some(n) }

  /** Data files under the warehouse root after the last refresh. */
  private def warehouseFiles: Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.startsWith("part-")) 1L else 0L
    walk(new java.io.File(sys.env("SPARK_GRAFT_WAREHOUSE")))
  }
}
