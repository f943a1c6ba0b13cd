package graft.perfbench

import graft.gmall.{BaseLog, DbRouter, DwsStats, OrderWide, Schemas, ServingApi}
import graft.streaming.{Sources, StatefulStreams}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** The gmall warehouse chain ODS → DWD → DWM → DWS → ADS, built only from
  * the program's public layer functions. Parquet directories stand in for
  * the reference's Kafka topics between hops.
  *
  * Each streaming hop drains its input with `Trigger.AvailableNow`, in
  * topological order: the two ODS hops take a fixed number of files per
  * trigger, and every later hop takes all its (finished) upstream files
  * in one trigger, so every batch is fixed by the input alone. What this
  * file adds is glue only: sources, sinks, watermarks, and the
  * projections that carry one hop's rows into the next layer's shape.
  */
final class Chain(spark: SparkSession, trace: Trace, ods: String, out: String,
    day: String, logPerTrigger: Int, dbPerTrigger: Int) {

  private val ck = s"$out/_checkpoints"
  private val dimRoot = s"$out/dim"
  val rowsOut = scala.collection.mutable.LinkedHashMap.empty[String, Long]
  /** Catalyst planning time (QueryExecution.tracker phases) per layer, for
    * the DataFrames this class holds. */
  val planMs = scala.collection.mutable.LinkedHashMap.empty[String, Long]

  private def planOf(layer: String, df: DataFrame): Unit = synchronized {
    planMs(layer) = planMs.getOrElse(layer, 0L) +
      df.queryExecution.tracker.phases.values.map(_.durationMs).sum
  }

  private def count(layer: String, n: Long): Unit = synchronized {
    rowsOut(layer) = rowsOut.getOrElse(layer, 0L) + n
  }

  /** Sink glue: append the batch to a parquet directory (one topic). */
  private def sink(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  private def drainQuery(name: String, df: DataFrame)(
      f: (DataFrame, Long) => Unit): Unit = {
    val q = df.writeStream
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$ck/$name")
      .foreachBatch((b: DataFrame, id: Long) => f(b, id))
      .start()
    q.awaitTermination()
  }

  /** A downstream hop reads everything its (already drained) upstream
    * wrote, in one trigger: its batches are fixed by the input alone. */
  private def fileStream(dir: String): DataFrame =
    spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "100000").parquet(dir)

  private def topic(t: String): String = s"$out/dwd_facts/topic=dwd_$t"

  /** Decode a DWD topic into a layer's declared schema. DbRouter's column
    * pruning re-encodes every payload value as a JSON string, so the topic
    * is read as strings and cast to the declared types. */
  private def decode(df: DataFrame, schema: StructType): DataFrame = {
    val asText = StructType(schema.fields.map(_.copy(dataType = StringType)))
    df.select(from_json(col("value"), asText).as("r"))
      .select(schema.fields.map(f => col(s"r.${f.name}").cast(f.dataType).as(f.name)).toIndexedSeq: _*)
  }

  /** App-log pages as the typed event rows StatefulStreams expects; the
    * device's `common` block rides along in `props` for the DWS hop. */
  private def pageEvents(pages: DataFrame): DataFrame =
    pages.select(
      xxhash64(col("common.mid"), col("ts")).as("event_id"),
      timestamp_millis(col("ts")).as("ts"),
      substring(col("common.mid"), 5, 20).cast("long").as("user_id"),
      col("page.page_id").as("event_type"),
      col("page.during_time").cast("double").as("value"),
      to_json(col("common")).as("props"))

  /** Back from event rows to the log shape DwsStats.shapeVisitor reads. */
  private def asLog(events: DataFrame): DataFrame =
    events.select(from_json(col("props"), Schemas.common).as("common"),
      unix_millis(col("ts")).as("ts"))

  private val cartSchema = StructType(Seq(StructField("id", LongType),
    StructField("user_id", LongType), StructField("sku_id", LongType),
    StructField("sku_num", LongType), StructField("create_time", StringType)))
  private val favorSchema = StructType(Seq(StructField("id", LongType),
    StructField("user_id", LongType), StructField("sku_id", LongType),
    StructField("create_time", StringType)))
  private val commentSchema = StructType(Seq(StructField("id", LongType),
    StructField("user_id", LongType), StructField("sku_id", LongType),
    StructField("order_id", LongType), StructField("appraise", StringType),
    StructField("create_time", StringType)))
  private val refundSchema = StructType(Seq(StructField("id", LongType),
    StructField("user_id", LongType), StructField("order_id", LongType),
    StructField("sku_id", LongType), StructField("refund_amount", DecimalType(16, 2)),
    StructField("create_time", StringType)))

  private def createMs: Column =
    unix_millis(to_timestamp(col("create_time"), "yyyy-MM-dd HH:mm:ss"))
  private type Column = org.apache.spark.sql.Column

  // ------------------------------------------------------------- hops

  def baseLog(): Unit = trace.layer("hop.BaseLog") {
    val raw = spark.readStream.option("maxFilesPerTrigger", logPerTrigger.toString)
      .text(s"$ods/log")
    drainQuery("BaseLog", raw) { (b, _) =>
      trace.layer("BaseLog") {
        val (clean, dirty) = BaseLog.parse(b)
        val c = clean.persist()
        try {
          val (starts, pages, displays) = BaseLog.split(c)
          sink(starts, s"$out/dwd_start")
          sink(pages, s"$out/dwd_page")
          sink(displays, s"$out/dwd_display")
          sink(dirty, s"$out/dwd_dirty")
        } finally c.unpersist(false)
      }
    }
  }

  def dbRouter(): Unit = trace.layer("hop.DbRouter") {
    val config = spark.read.schema(Schemas.tableProcess).json(s"$ods/table_process.json")
    val raw = spark.readStream.option("maxFilesPerTrigger", dbPerTrigger.toString)
      .text(s"$ods/db")
    drainQuery("DbRouter", raw) { (b, _) =>
      val routed = trace.layer("DbRouter") {
        val r = DbRouter.route(Sources.cdcDecode(b), config).persist()
        r.count()
        r
      }
      try {
        val facts = trace.layer("Sinks.upsert") { DbRouter.writeBatch(routed, dimRoot) }
        // fact fan-out: one directory per topic
        trace.layer("DbRouter") {
          facts.write.mode("append").partitionBy("topic").parquet(s"$out/dwd_facts")
        }
      } finally routed.unpersist(false)
    }
  }

  def uv(): Unit = trace.layer("hop.StatefulStreams.uvDedup") {
    val ev = pageEvents(fileStream(s"$out/dwd_page"))
    drainQuery("StatefulStreams.uvDedup", StatefulStreams.uvDedup(ev)) { (b, _) =>
      trace.layer("StatefulStreams.uvDedup") { sink(b, s"$out/dwm_uv") }
    }
  }

  def bounces(): Unit = trace.layer("hop.StatefulStreams.bounces") {
    val ev = pageEvents(fileStream(s"$out/dwd_page")).withWatermark("ts", "2 seconds")
    drainQuery("StatefulStreams.bounces", StatefulStreams.bounces(ev, 10L)) { (b, _) =>
      trace.layer("StatefulStreams.bounces") { sink(b, s"$out/dwm_bounce") }
    }
  }

  private def dim(t: String): DataFrame = spark.read.parquet(s"$dimRoot/dim_$t")

  def orderWide(): Unit = trace.layer("hop.OrderWide.join") {
    val oi = decode(fileStream(topic("order_info")), Schemas.orderInfo)
    val od = decode(fileStream(topic("order_detail")), Schemas.orderDetail)
    drainQuery("OrderWide.join", OrderWide.joinStream(oi, od)) { (b, _) =>
      val (j, n) = trace.layer("OrderWide.join") {
        val p = b.persist()
        val n = p.count()
        count("OrderWide.join", n)
        (p, n)
      }
      try if (n > 0) trace.layer("OrderWide.enrich") {
        val wide = OrderWide.enrich(j, dim("user_info"), dim("base_province"),
          dim("sku_info"), dim("spu_info"), dim("base_trademark"), dim("base_category3"),
          asOf = lit(day).cast("date"))
        sink(wide, s"$out/dwm_order_wide")
      } finally j.unpersist(false)
    }
  }

  def paymentWide(): Unit = trace.layer("hop.OrderWide.paymentWide") {
    val pay = decode(fileStream(topic("payment_info")), Schemas.paymentInfo)
    val ow = fileStream(s"$out/dwm_order_wide")
    drainQuery("OrderWide.paymentWide", OrderWide.paymentWideStream(pay, ow)) { (b, _) =>
      trace.layer("OrderWide.paymentWide") { sink(b, s"$out/dwm_payment_wide") }
    }
  }

  // ------------------------------------------------------- DWS and ADS

  private def rd(t: String): DataFrame = spark.read.parquet(s"$out/$t")
  private def fact(t: String, s: StructType): DataFrame =
    decode(spark.read.parquet(topic(t)), s)

  /** One DWS table, computed once over the drained DWD/DWM tables (the
    * DwsStats functions are batch-shaped: ProvinceStats' count(DISTINCT)
    * has no streaming form), then published through ServingApi. */
  private def dws(layer: String, table: String)(df: => DataFrame): Unit = {
    val p = trace.layer(layer) {
      val p = df.persist()
      count(layer, p.count())
      planOf(layer, p)
      p
    }
    try trace.layer("ServingApi.writeStats") { ServingApi.writeStats(p, s"$out/ads/$table") }
    finally p.unpersist(false)
  }

  def visitorStats(): Unit = dws("DwsStats.visitor", "visitor_stats") {
    DwsStats.visitorStats(
      DwsStats.shapeVisitor(rd("dwd_page"), asLog(rd("dwm_uv")), asLog(rd("dwm_bounce"))))
  }

  def keywordStats(): Unit = dws("DwsStats.keyword", "keyword_stats") {
    DwsStats.keywordStats(rd("dwd_page"))
  }

  def provinceStats(): Unit = dws("DwsStats.province", "province_stats") {
    DwsStats.provinceStats(rd("dwm_order_wide"))
  }

  def productStats(): Unit = dws("DwsStats.product", "product_stats") {
    val pages = rd("dwd_page")
    DwsStats.productStats(
      clicks = pages.filter(col("page.page_id") === "good_detail" &&
        col("page.item_type") === "sku_id")
        .select(col("page.item").cast("long").as("sku_id"), col("ts")),
      displays = rd("dwd_display").filter(col("item_type") === "sku_id")
        .select(col("item").cast("long").as("sku_id"), col("ts")),
      favors = fact("favor_info", favorSchema).select(col("sku_id"), createMs.as("ts")),
      carts = fact("cart_info", cartSchema).select(col("sku_id"), createMs.as("ts")),
      orders = rd("dwm_order_wide").select(col("sku_id"), unix_millis(col("oi_ts")).as("ts"),
        col("order_id"), col("split_total_amount")),
      payments = rd("dwm_payment_wide").select(col("sku_id"),
        unix_millis(col("pay_ts")).as("ts"), col("order_id"), col("split_total_amount")),
      refunds = fact("order_refund_info", refundSchema).select(col("sku_id"),
        createMs.as("ts"), col("order_id"), col("refund_amount")),
      comments = fact("comment_info", commentSchema).select(col("sku_id"),
        createMs.as("ts"), col("appraise")))
  }

  /** The whole drain, ODS to ADS. Steps that do not read each other run at
    * once, as the reference's jobs do; each starts only after every step
    * it reads from has finished, so its batches stay fixed by the input. */
  def run(): Unit = {
    Chain.par(
      () => {
        baseLog()
        Chain.par(() => uv(), () => bounces(), () => keywordStats())
        visitorStats()
      },
      () => {
        dbRouter()
        orderWide()
        Chain.par(() => paymentWide(), () => provinceStats())
      })
    productStats()
  }

  /** An untimed serving call, outside every layer. */
  def gmvWarmup(dayInt: Int): Unit =
    ServingApi.gmvAt(spark, s"$out/ads/product_stats", dayInt).collect()

  /** One closed-loop serving call; returns (ms, GMV as a plain string,
    * files the scan read). */
  def gmvQuery(dayInt: Int): (Double, String, Long) = {
    val t0 = System.nanoTime()
    val (df, row) = trace.layer("ServingApi.gmvAt") {
      val df = ServingApi.gmvAt(spark, s"$out/ads/product_stats", dayInt)
      (df, df.collect().head)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    planOf("ServingApi.gmvAt", df)
    (ms, row.getDecimal(0).toPlainString, Chain.filesRead(df))
  }
}

object Chain {
  /** Run the tasks on threads of their own (each call into a layer sets
    * its thread's job properties) and return their results in order;
    * the first failure is rethrown once all have ended. */
  def par[T](tasks: (() => T)*): Seq[T] = {
    val results = new Array[Any](tasks.size)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = tasks.zipWithIndex.map { case (t, i) =>
      new Thread(() => try results(i) = t() catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
    results.toSeq.asInstanceOf[Seq[T]]
  }

  /** "number of files read" summed over the file scans of an executed
    * plan (adaptive plans are unwrapped to their final form). */
  def filesRead(df: DataFrame): Long = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    def walk(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case other => other.children.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }
}
