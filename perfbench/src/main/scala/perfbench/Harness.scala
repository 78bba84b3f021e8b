package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.streaming.{BulkUpsertSink, FakeKafka, KafkaChangeFeed, Pipeline}

/** One benchmark run in one JVM: set up a session, run the workload's
  * timed passes through the engine's public seams, and write what it
  * measured plus the outputs to check into `--out`. `run.py` generates
  * the inputs, launches this, checks the outputs against a DuckDB
  * reference and prints the result line.
  *
  * Workloads:
  *  - `cdc`: two phases, each on a fresh Pipeline. Live: customers and
  *    warm-up records load during set-up, which is the run's warm-up;
  *    then orders and shipments are produced open-loop at `--rate`
  *    records/s in 100 ms ticks, with open-loop point lookups on a second
  *    thread. Backfill: one catch-up of a generated backlog, a hop at a
  *    time.
  *  - `catalog_mix`: the `--queries`, each fully materialized as a
  *    parquet write, in a seeded order per pass, after an untimed
  *    warm-up pass. The oracle check reads what the last timed pass
  *    wrote.
  *
  * With `--trace 1` the workload runs twice, each for half the budget:
  * untraced, and with the listeners and spans on, in an order the seed
  * picks. The traced half gives the per-layer numbers, the pair the
  * tracing overhead. */
object Harness {
  val Hops: Seq[String] = Seq("customers_by_key", "enriched_orders", "shipped_orders")
  val HopTopic: Map[String, String] = Map(
    "customers_by_key" -> "customers", "enriched_orders" -> "orders",
    "shipped_orders" -> "shipments")

  final case class Rec(topic: String, key: String, value: String)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    // Everything the run produced is on disk once run() returns; the
    // caller removes the run directory, so the JVM ends without Spark's
    // orderly shutdown, which takes seconds and measures nothing.
    val code = try { new Harness(opts).run(); 0 }
    catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush(); System.err.flush()
    Runtime.getRuntime.halt(code)
  }

  def now: Long = System.nanoTime()
  /** CPU time of the whole JVM (tasks, driver, JIT, GC), ns. */
  def cpuNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  def secs(ns: Long): Double = ns / 1e9

  def sleepUntil(t: Long): Unit = {
    var left = t - now
    while (left > 0) {
      Thread.sleep(left / 1000000, (left % 1000000).toInt)
      left = t - now
    }
  }

  def readRecords(p: Path): Vector[Rec] =
    Files.readAllLines(p).asScala.iterator.filter(_.nonEmpty).map { l =>
      val a = l.split("\t", 3)
      Rec(a(0), a(1), if (a(2) == "\\N") null else a(2))
    }.toVector

  /** Best effort: tasks of a just-stopped query can still be finishing
    * writes, so retry briefly; `run.py` removes the run directory anyway. */
  def deleteTree(p: Path, tries: Int = 20): Unit =
    try {
      if (Files.exists(p)) {
        val s = Files.walk(p)
        try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
        finally s.close()
      }
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException if tries > 1 =>
        Thread.sleep(50); deleteTree(p, tries - 1)
      case _: java.io.IOException | _: java.io.UncheckedIOException => ()
    }

  /** (file count, total bytes) of the data files under a directory. */
  def dataFiles(p: Path): (Double, Double) =
    if (!Files.exists(p)) (0.0, 0.0)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.iterator.asScala.filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet")).toSeq
        (fs.size.toDouble, fs.map(Files.size(_)).sum.toDouble)
      } finally s.close()
    }
}

final class Harness(opts: Map[String, String]) {
  import Harness._

  private val workload = opts("workload")
  private val in = Paths.get(opts("in"))
  private val out = Paths.get(opts("out"))
  private val work = Paths.get(opts("work"))
  private val seconds = opts("seconds").toDouble
  private val traced = opts.get("trace").contains("1")
  private val cpus = opts("cpus").toInt
  private val seed = opts("seed").toLong
  private val rate = opts("rate").toInt
  private val lookupRate = opts("lookup-rate").toDouble
  private val liveWarm = opts("warm").toInt
  private val CatalogQueries = opts("queries").split(',').toSeq

  private val result = mutable.LinkedHashMap.empty[String, Any]
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private val errors = mutable.ArrayBuffer.empty[String]

  private val sessionT0 = now
  private val settings: Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.local.dir" -> work.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString,
    // the UI is off, but its status store still keeps every job, stage and
    // SQL execution it saw: that harness-side heap would grow with the
    // batch count and blur the heap metric
    "spark.ui.retainedJobs" -> "50", "spark.ui.retainedStages" -> "50",
    "spark.sql.ui.retainedExecutions" -> "50",
    "spark.sql.streaming.ui.retainedQueries" -> "10",
    "spark.sql.streaming.ui.retainedProgressUpdates" -> "10") ++
    // the catalog's stream twins are finite throwaway runs, set up as the
    // engine's own Bench does; the CDC pipeline is a durable long-running
    // job, so its checkpoints keep Spark's default checksums
    (if (workload == "catalog_mix")
      Seq("spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false") else Nil)
  private val spark: SparkSession = {
    val b = SparkSession.builder().appName(s"perfbench-$workload")
    settings.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }
  spark.sparkContext.setLogLevel("ERROR")
  private val sessionS = secs(now - sessionT0)

  def run(): Unit = {
    result("settings") = settings.toMap + ("java.version" -> System.getProperty("java.version"))
    val (warmS, body) = workload match {
      case "cdc" => (0.0, (_: Double, t: Tracer, dir: Path) => cdc(t, dir))
      case "catalog_mix" => (warmUpCatalog(), (b: Double, t: Tracer, _: Path) => catalog(b, t))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    result("session_s") = sessionS
    result("warmup_s") = warmS
    if (!traced) {
      HeapWatch.reset()
      val r = body(seconds, new Tracer(false), out)
      result("peak_heap_mb") = HeapWatch.peakMb
      result ++= r
    } else {
      def plainHalf() = body(seconds / 2, new Tracer(false), out.resolve("plain"))
      def tracedHalf() = {
        val tr = new Tracer(true)
        val ls = new Listeners(spark, tr)
        listeners = Some(ls)
        ls.register()
        val (gc0, gcn0) = HeapWatch.gcTotals
        val cpu0 = cpuNs
        val r = body(seconds / 2, tr, out.resolve("traced"))
        layers("jvm.cpu_s") = secs(cpuNs - cpu0)
        val (gc1, gcn1) = HeapWatch.gcTotals
        ls.unregister()
        listeners = None
        layers("jvm.gc_ms") = gc1 - gc0
        layers("jvm.gc_count") = gcn1 - gcn0
        (r, tr)
      }
      // the half that runs second is the warmer one: the seed picks the
      // order, so the overhead is not biased one way across seeds
      val tracedFirst = seed % 2 == 1
      val ((r, tr), plain) =
        if (tracedFirst) { val t = tracedHalf(); (t, plainHalf()) }
        else { val p = plainHalf(); (tracedHalf(), p) }
      result ++= r
      result("failed_queries") = (plain.getOrElse("failed_queries", Nil).asInstanceOf[Seq[String]] ++
        r.getOrElse("failed_queries", Nil).asInstanceOf[Seq[String]]).distinct
      val (a, b) = (plain("primary").asInstanceOf[Double], r("primary").asInstanceOf[Double])
      layers("trace.overhead_frac") = if (a > 0) b / a - 1 else 0.0
      calibrate()
      tr.writeSpans(out.resolve("spans.jsonl"))
      result("layers") = layers.toMap
    }
    result("errors") = errors.toSeq
    Files.writeString(out.resolve("result.json"), Json.value(result.toMap))
  }

  private var listeners: Option[Listeners] = None

  // ---------------------------------------------------------------- CDC

  /** One phase's generated records, and the final version (shipment
    * offset) of each order's document according to the reference. */
  private final class Feed(phase: String) {
    val records: Vector[Rec] = readRecords(in.resolve(s"records_$phase.tsv"))
    val expected: Map[String, Long] =
      Files.readAllLines(in.resolve(s"expected_$phase.tsv")).asScala.filter(_.nonEmpty)
        .map { l => val a = l.split("\t"); a(0) -> a(1).toLong }.toMap
    def topic(t: String): Vector[(String, String)] =
      records.filter(_.topic == t).map(r => r.key -> r.value)

    /** Wait until the endpoint holds every expected document at its final
      * version: the end of a catch-up, without the trailing no-data
      * batches a full drain would also run. A timeout leaves the gap to
      * the correctness check. */
    def awaitDocs(timeoutS: Double): Unit = {
      val deadline = now + (timeoutS * 1e9).toLong
      def done = DocStore.docs.size >= expected.size && expected.forall { case (id, v) =>
        val d = DocStore.docs.get(id); d != null && d.version == v
      }
      while (!done && now < deadline) Thread.sleep(5)
    }
  }

  private final class Run(tag: String) {
    val name = s"pb${seed}_${tag}_${System.nanoTime()}"
    val topics: Map[String, String] =
      Seq("customers", "orders", "shipments").map(t => t -> s"${name}_$t").toMap
    val root: Path = work.resolve(name)
    val pipeline: Pipeline = {
      def feed(t: String): DataFrame = KafkaChangeFeed.df(spark, "embedded:9092",
        topics(t), startingOffsets = "earliest", format = "fakekafka")
      val mirror = new BulkUpsertSink("order_id", new StoreEndpoint,
        orderCol = Some("__s_offset"))
      new Pipeline(spark, root.toString,
        sources = Some(Pipeline.Sources(feed("customers"), feed("orders"), feed("shipments"))),
        extraShippedSink = Some(mirror.forEachBatch))
    }
    listeners.foreach { ls =>
      pipeline.queryHandles.foreach { case (n, q) => ls.nameQuery(q.id, n) }
      Hops.foreach(hop => ls.hopTopics.put(hop, HopTopic(hop) -> topics(HopTopic(hop))))
    }

    def produce(t: String, recs: Seq[(String, String)]): Unit =
      if (recs.nonEmpty) FakeKafka.produce(topics(t), recs: _*)
    def drain(): Unit = Hops.foreach(h => pipeline.queryHandles(h).processAllAvailable())

    /** Endpoint documents, sink snapshot and the data files the run left
      * in the sink and the channel (the last for the trace). */
    def export(phase: String, t0: Long, tr: Tracer, dir: Path): Unit = {
      DocStore.export(dir.resolve(s"${phase}_endpoint.tsv"), t0)
      pipeline.shippedOrders.df.foreach(
        _.coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"${phase}_sink").toString))
      if (tr.enabled) {
        val docs = DocStore.docs.values.asScala.toSeq
        tr.add("egress.docs", docs.size.toDouble)
        tr.add("egress.bulk_calls", DocStore.bulkCalls.get.toDouble)
        tr.add("egress.actions", DocStore.actions.get.toDouble)
        tr.add("egress.enrich_miss", docs.count(d => !d.json.contains("\"customer_name\"")).toDouble)
        val (sf, _) = dataFiles(root.resolve("stores/shipped_orders"))
        tr.add("sink.shipped_orders.files", sf)
        val (cf, cb) = dataFiles(root.resolve("topics/enriched_orders"))
        tr.add("channel.enriched_orders.files", cf)
        tr.add("channel.enriched_orders.bytes", cb)
      }
    }

    def close(): Unit = {
      scala.util.Try(pipeline.stop())
      spark.streams.resetTerminated()
      topics.values.foreach(FakeKafka.deleteTopic)
      deleteTree(root)
    }
  }

  private lazy val liveFeed = new Feed("live")
  private lazy val backfillFeed = new Feed("backfill")

  /** The `cdc` workload: the live phase, then the backfill phase, each on
    * its own fresh pipeline. The live set-up is the run's warm-up: it
    * loads the classes and compiles the code paths of all three hops and
    * of the lookup, and the live phase then runs them for `--seconds`, so
    * the backfill, the timed end-to-end work, runs warm. Outputs to check
    * go to `dir`. */
  private def cdc(tr: Tracer, dir: Path): Map[String, Any] = {
    Files.createDirectories(dir)
    val l = live(tr, liveFeed, dir)
    val b = backfill(tr, backfillFeed, dir)
    cdcLayers(tr, loadgenLate = l("late_ms_max").asInstanceOf[Double])
    Map("live" -> l, "backfill" -> b, "primary" -> b("work_s"),
      "setup_extra_s" -> (l("setup_s").asInstanceOf[Double] + b("construct_s").asInstanceOf[Double]))
  }

  /** One catch-up of the backlog on a fresh pipeline, a hop at a time:
    * customers → drain, orders → drain, shipments → every document
    * delivered. */
  private def backfill(tr: Tracer, feed: Feed, dir: Path): Map[String, Any] = {
    DocStore.reset()
    val tc = now
    val run = tr.span("pipeline.construct")(new Run("backfill"))
    val constructS = secs(now - tc)
    try {
      val t0 = now
      val hopStart = Seq("customers", "orders", "shipments").map { t =>
        val at = now - t0
        tr.span(s"hop.$t") {
          tr.span("produce")(run.produce(t, feed.topic(t)))
          if (t == "shipments") tr.span("await_docs")(feed.awaitDocs(120))
          else tr.span("drain")(run.drain())
        }
        t -> at
      }
      val workS = secs(DocStore.lastArrivalNs - t0)
      HeapWatch.sample()
      Files.writeString(dir.resolve("backfill_due.json"), Json.value(hopStart.toMap))
      run.export("backfill", t0, tr, dir)
      Map("construct_s" -> constructS, "work_s" -> workS, "records" -> feed.records.size)
    } finally run.close()
  }

  /** Customers and the warm-up records load during set-up; then orders and
    * shipments are produced open-loop in 100 ms ticks while a second
    * thread sends open-loop point lookups against the sink. */
  private def live(tr: Tracer, feed: Feed, dir: Path): Map[String, Any] = {
    DocStore.reset()
    val tc = now
    val run = tr.span("pipeline.construct")(new Run("live"))
    try {
      val (warm, stream) = feed.records.filter(_.topic != "customers").splitAt(liveWarm)
      tr.span("load.customers_and_warm_up") {
        // the warm-up orders name customers that never exist, so they
        // enrich the same however the hops interleave with the load
        run.produce("customers", feed.topic("customers"))
        Seq("orders", "shipments").foreach(t =>
          run.produce(t, warm.filter(_.topic == t).map(r => r.key -> r.value)))
        run.drain()
        run.pipeline.shippedOrders.df.foreach(_.filter(col("order_id") === "wo0").collect())
      }
      val setupS = secs(now - tc)
      val perTick = math.max(1, rate / 10)
      val ticks = (stream.size + perTick - 1) / perTick
      val orderIds = stream.filter(_.topic == "orders").map(_.key)
      val ordersOut = new AtomicInteger(0)
      val tickLate = new Array[Long](ticks)
      val t0 = now + 50000000L
      val endNs = t0 + ticks * 100000000L
      val gen = new Thread(() => {
        var sent = 0
        for (i <- 0 until ticks) {
          val due = t0 + i * 100000000L
          sleepUntil(due)
          val slice = stream.slice(i * perTick, math.min(stream.size, (i + 1) * perTick))
          tr.span("produce") {
            run.produce("orders", slice.filter(_.topic == "orders").map(r => r.key -> r.value))
            run.produce("shipments", slice.filter(_.topic == "shipments").map(r => r.key -> r.value))
          }
          sent += slice.count(_.topic == "orders")
          ordersOut.set(sent)
          tickLate(i) = now - due
        }
      }, "perfbench-loadgen")
      val lookups = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val lk = new Thread(() => {
        spark.sparkContext.setLocalProperty("perfbench.tag", "lookup")
        val rng = new scala.util.Random(seed)
        var i = 0
        var due = t0
        while (due < endNs) {
          sleepUntil(due)
          val n = ordersOut.get
          if (n > 0) {
            val id = orderIds(rng.nextInt(n))
            val s = now
            val line = try {
              val df = tr.span("lookup.df")(run.pipeline.shippedOrders.df)
              val t1 = now
              if (tr.enabled) df.foreach(d => tr.add("lookup.files_read", d.inputFiles.length.toDouble))
              val t2 = now
              val rows = tr.span("lookup.exec")(
                df.map(_.filter(col("order_id") === id).toJSON.collect().toSeq).getOrElse(Nil))
              tr.sample("lookup.df_ms", (t1 - s) / 1e6)
              tr.sample("lookup.exec_ms", (now - t2) / 1e6)
              s"ok\t${rows.mkString("\u0001")}"
            } catch { case e: Exception => s"error\t${e.getClass.getSimpleName}" }
            lookups.add(s"$id\t${due - t0}\t${s - t0}\t${now - t0}\t$line")
          }
          i += 1
          due = t0 + (i * 1e9 / lookupRate).toLong
        }
      }, "perfbench-lookups")
      gen.start(); lk.start()
      gen.join(); lk.join()
      tr.span("await_docs")(feed.awaitDocs(90))
      val workS = secs(DocStore.lastArrivalNs - t0)
      HeapWatch.sample()
      Files.writeString(dir.resolve("lookups.tsv"), lookups.asScala.mkString("", "\n", "\n"))
      Files.writeString(dir.resolve("live_due.json"),
        Json.value(Map("per_tick" -> perTick, "tick_ns" -> 100000000L, "warm" -> liveWarm)))
      run.export("live", t0, tr, dir)
      Map("setup_s" -> setupS, "work_s" -> workS, "records" -> feed.records.size,
        "late_ms_max" -> tickLate.max / 1e6)
    } finally run.close()
  }

  /** Per-layer numbers of a traced `cdc` half. Counts and bytes are
    * per pipeline run (live and backfill), phase times per batch. */
  private def cdcLayers(tr: Tracer, loadgenLate: Double): Unit = if (tr.enabled) {
    val n = 2.0
    layers("loadgen.late_ms_max") = loadgenLate
    layers("loadgen.records") = (liveFeed.records.size + backfillFeed.records.size).toDouble
    Seq("customers", "orders", "shipments").foreach(t =>
      layers(s"ingest.$t.lag_records_max") = tr.get(s"ingest.$t.lag_records_max"))
    Hops.foreach { hop =>
      val h = s"streaming.$hop"
      val batches = tr.get(s"$h.batches")
      layers(s"$h.batches") = batches / n
      layers(s"$h.rows_in") = tr.get(s"$h.rows_in") / n
      layers(s"$h.trigger_ms_p50") = Stats.median(tr.samplesOf(s"$h.trigger_ms"))
      Seq("latest_offset_ms", "get_batch_ms", "query_planning_ms", "add_batch_ms",
        "wal_commit_ms", "commit_offsets_ms").foreach(m =>
        layers(s"$h.$m") = if (batches > 0) tr.get(s"$h.$m") / batches else 0.0)
      layers(s"$h.cpu_ms") = tr.get(s"$h.cpu_ms") / n
      layers(s"$h.shuffle_write_bytes") = tr.get(s"$h.shuffle_write_bytes") / n
    }
    Seq("rows_max", "bytes_max").foreach(m =>
      layers(s"state.shipped_orders.$m") = tr.get(s"state.shipped_orders.$m"))
    layers("state.shipped_orders.commit_ms") = tr.get("state.shipped_orders.commit_ms") / n
    layers("state.shipped_orders.rows_dropped_late") = tr.get("state.shipped_orders.rows_dropped_late")
    layers("state.customers_by_key.rows_max") = tr.get("state.customers_by_key.rows_max")
    layers("state.customers_by_key.commit_ms") = tr.get("state.customers_by_key.commit_ms") / n
    val docs = tr.get("egress.docs")
    layers("sink.shipped_orders.bytes_written") = tr.get("streaming.shipped_orders.bytes_written") / n
    layers("sink.shipped_orders.bytes_written_per_doc") =
      if (docs > 0) tr.get("streaming.shipped_orders.bytes_written") / docs else 0.0
    layers("sink.shipped_orders.files") = tr.get("sink.shipped_orders.files") / n
    layers("store.customers_by_key.bytes_written") = tr.get("streaming.customers_by_key.bytes_written") / n
    layers("channel.enriched_orders.files") = tr.get("channel.enriched_orders.files") / n
    layers("channel.enriched_orders.bytes") = tr.get("channel.enriched_orders.bytes") / n
    layers("egress.docs") = docs / n
    layers("egress.bulk_calls") = tr.get("egress.bulk_calls") / n
    val actions = tr.get("egress.actions")
    layers("egress.superseded_frac") = if (actions > 0) 1 - docs / actions else 0.0
    layers("egress.enrich_miss_frac") = if (docs > 0) tr.get("egress.enrich_miss") / docs else 0.0
    val looks = tr.samplesOf("lookup.df_ms").size.toDouble
    layers("lookup.df_ms_p50") = Stats.median(tr.samplesOf("lookup.df_ms"))
    layers("lookup.exec_ms_p50") = Stats.median(tr.samplesOf("lookup.exec_ms"))
    layers("lookup.files_read") = if (looks > 0) tr.get("lookup.files_read") / looks else 0.0
    layers("lookup.bytes_read") = if (looks > 0) tr.get("lookup.bytes_read") / looks else 0.0
  }

  // ------------------------------------------------------------ catalog

  private lazy val sfDir = in.resolve("sf").toString
  private lazy val builders = {
    val all = graft.queries.Catalog.queries
    CatalogQueries.map(q => q -> all(q)).toMap
  }

  /** Drop the blocks a query cached, before the next query starts. */
  private def sweep(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** Results go to `catalog/<query>` beside the oracle SQL, in the
    * layout `tools/compare.py` reads. A parquet write consumes every
    * output column, and each pass overwrites the last, so the oracle
    * check reads the output of the last timed execution. */
  private lazy val resultDir = Files.createDirectories(out.resolve("catalog"))
  private def materialize(q: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(resultDir.resolve(q).toString)

  /** Every query once, in the order the `--queries` list them, fully
    * materialized. This is the set-up of a catalog run: it pays each
    * query's first-run cost (class loading, code generation), so the
    * timed passes measure warm queries whatever order they run in. */
  private def warmUpCatalog(): Double = {
    val t0 = now
    CatalogQueries.foreach { q =>
      try materialize(q, builders(q)(spark, sfDir))
      catch {
        case e: Exception =>
          errors += s"$q (warm-up): ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
      } finally sweep()
    }
    val oracles = graft.queries.Catalog.oracles
    Files.writeString(resultDir.resolve("oracle_sql.json"),
      Json.value(CatalogQueries.flatMap(q => oracles.get(q).map(q -> _)).toMap))
    secs(now - t0)
  }

  private def catalog(budget: Double, tr: Tracer): Map[String, Any] = {
    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val builds = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val plans = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val execs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var materialized = 0.0
    val failed = mutable.LinkedHashSet.empty[String]
    val start = now
    var passes = 0
    // another pass only if it should end within the budget
    while (passes < 1 || secs(now - start) * (passes + 1) / passes <= budget) {
      passes += 1
      val order = new scala.util.Random(seed * 1000 + passes).shuffle(CatalogQueries)
      order.foreach { q =>
        spark.sparkContext.setLocalProperty("perfbench.tag", s"catalog:$q")
        try {
          val t0 = now
          val df = tr.span(s"catalog.$q.build")(builders(q)(spark, sfDir))
          val t1 = now
          if (tr.enabled) materialized += spark.sparkContext.getRDDStorageInfo
            .map(i => (i.memSize + i.diskSize).toDouble).sum
          tr.span(s"catalog.$q.exec")(materialize(q, df))
          val t2 = now
          times.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += (t2 - t0) / 1e6
          builds.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += (t1 - t0) / 1e6
          listeners.foreach { ls =>
            val plan = drainPhases(ls, phases)
            plans.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += plan
            execs.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += (t2 - t1) / 1e6 - plan
          }
        } catch {
          case e: Exception =>
            failed += q
            errors += s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        } finally {
          spark.sparkContext.setLocalProperty("perfbench.tag", null)
          HeapWatch.sample() // before the sweep: the query's cached blocks count
          sweep()
        }
      }
    }
    if (tr.enabled) {
      val n = passes.toDouble
      CatalogQueries.foreach { q =>
        val c = s"catalog.$q"
        layers(s"$c.build_ms") = Stats.median(builds.getOrElse(q, Nil).toSeq)
        layers(s"$c.plan_ms") = Stats.median(plans.getOrElse(q, Nil).toSeq)
        layers(s"$c.exec_ms") = Stats.median(execs.getOrElse(q, Nil).toSeq)
        layers(s"$c.jobs") = tr.get(s"catalog:$q.jobs") / n
        layers(s"$c.shuffle_bytes") = tr.get(s"catalog:$q.shuffle_write_bytes") / n
      }
      layers("catalog.analysis_ms") = phases("analysis") / n
      layers("catalog.optimization_ms") = phases("optimization") / n
      layers("catalog.planning_ms") = phases("planning") / n
      layers("catalog.spill_bytes") = CatalogQueries.map(q => tr.get(s"catalog:$q.spill_bytes")).sum / n
      layers("catalog.materialized_bytes") = materialized / n
      layers("catalog.cpu_ms") = CatalogQueries.map(q => tr.get(s"catalog:$q.cpu_ms")).sum / n
    }
    // each query's fastest pass: interference from outside the run only
    // ever slows a pass, so the minimum repeats best (as in graft.Bench)
    val fastest = CatalogQueries.filterNot(failed).map(q => q -> times(q).min).toMap
    Map("passes" -> Seq.tabulate(passes)(i => Map("pass" -> (i + 1))),
      "query_ms" -> fastest, "query_ms_all" -> times.map { case (k, v) => k -> v.toSeq }.toMap,
      "failed_queries" -> failed.toSeq,
      "primary" -> fastest.values.sum, "setup_extra_s" -> 0.0)
  }

  /** Planning phases of the QueryExecutions a catalog query finished.
    * The listener bus is asynchronous: wait for the write's own event. */
  private def drainPhases(ls: Listeners, phases: mutable.Map[String, Double]): Double = {
    val deadline = now + 3000000000L
    var plan = 0.0
    var sawWrite = false
    while (!sawWrite && now < deadline) {
      val e = ls.qeEvents.poll()
      if (e == null) Thread.sleep(1)
      else {
        val (fn, ph) = e
        Seq("analysis", "optimization", "planning").foreach { p =>
          phases(p) += ph.getOrElse(p, 0.0); plan += ph.getOrElse(p, 0.0)
        }
        sawWrite = fn == "save" || fn == "command"
      }
    }
    plan
  }

  // -------------------------------------------------------- calibration

  /** The engine Bench's two box-speed probes, min of three each: a
    * scan-bound query (q1_pricing_summary over a small generated lineitem)
    * and the scan-free arithmetic fold at a quarter of Bench's row count. */
  private def calibrate(): Unit = {
    val q1 = graft.queries.Catalog.queries("q1_pricing_summary")
    layers("calib.scan_s") = (1 to 3).map { _ =>
      val t0 = now
      q1(spark, in.resolve("calib").toString).count()
      secs(now - t0)
    }.min
    layers("calib.cpu_s") = (1 to 3).map { _ =>
      val t0 = now
      spark.range(0, 1L << 20, 1, 32)
        .selectExpr("aggregate(sequence(0, 63), id, " +
          "(acc, x) -> (acc * 48271L + x) % 2147483647L) AS h")
        .selectExpr("sum(h)").collect()
      secs(now - t0)
    }.min
  }
}
