package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operation of a workload: a catalog entry call or a statement.
  * `build` is the time inside the entry function (or `spark.sql`, which
  * runs DML eagerly); `result` is executing the returned frame.
  */
final case class OpRec(id: Long, pass: Int, traced: Boolean, name: String,
                       kind: String, start: Double, end: Double,
                       build: Double, result: Double, error: String) {
  def wall: Double = end - start
  def ok: Boolean = error.isEmpty
}

/** The benchmark's JVM side. Runs one workload and writes
  * `<out>/result.json` (metrics, operations, layer-sum check) and, for a
  * traced run, `<out>/spans.json`. Catalog results land under
  * `<out>/results/<entry>` for the oracle check that runs after the JVM
  * exits.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  *          <dataDir> <warmDir> <outDir> <cores>
  */
object Main {
  /** Executor-bound entries: star-schema scans, joins and aggregates,
    * MapReduce and near-duplicate detection.
    */
  val Analytics = Seq("q1_pricing_summary", "q9_product_profit",
    "q18_large_orders", "table_checksum", "mr_wc", "dedup_minhash_lsh")
  /** Streaming entries that need no shared store fixture: windowed
    * aggregation, state-store dedup, session windows and a
    * snapshot-store sink.
    */
  val Streaming = Seq("streaming_events_hourly", "streaming_dedup_events",
    "streaming_session_window", "streaming_snapshot_sink")

  final case class Conf(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, warm: String,
                        out: File, cores: Int)

  def main(argv: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime.toDouble
    val c = Conf(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      argv(4), argv(5), new File(argv(6)), argv(7).toInt)
    c.out.mkdirs()
    Heap.install()
    val spark = session(c)
    stage("session ready")
    val res = c.workload match {
      case "analytics_x10" => catalog(spark, c, Analytics)
      case "streaming_entries" => catalog(spark, c, Streaming)
      case "lakehouse_dml" => new LakehouseRun(spark, c).run()
      case w => sys.error(s"unknown workload $w")
    }
    val setupS = (res.setupEndMs - jvmStart) / 1000.0
    Report.write(c, res, setupS)
    spark.stop()
  }

  private val t0 = System.nanoTime()
  /** Logs a set-up stage with the seconds since the driver started. */
  def stage(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.2f s: $what")

  /** The session `graft.Bench` builds, plus the benchmark's listeners. */
  def session(c: Conf): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "512k")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(c.out, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(c.out, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.streamingQueryListeners",
        classOf[BatchListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (c.trace) spark.sparkContext.addSparkListener(new JobListener)
    graft.plans.GraftExtensions.register(spark)
    spark
  }

  /** One pass of the timed loop: wall seconds (checks excluded) and the
    * JVM's CPU seconds over it (all threads: driver and executors).
    */
  final case class Pass(traced: Boolean, wall: Double, cpu: Double)

  /** What a workload run hands to the report. `setupEndMs` ends
    * set-up: session start, warm-up and store bootstrap. The untimed
    * check executions that follow it are not set-up.
    */
  final case class RunResult(setupEndMs: Double, ops: Seq[OpRec],
                             passes: Seq[Pass],
                             sources: Map[String, Double],
                             oracles: Map[String, String])

  /** Runs `body` as one operation, linked to its jobs by local property.
    * The record times it on the monotonic clock; its spans carry the
    * wall clock that Spark stamps job, SQL and micro-batch events with,
    * read outside the monotonic readings so that they cover them.
    */
  def op(spark: SparkSession, pass: Int, name: String, kind: String)
        (build: => DataFrame)(result: DataFrame => Unit): OpRec = {
    val id = Tracer.newId()
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.OpProperty, id.toString)
    val c0 = Tracer.clockMs()
    val t0 = Tracer.nowMs()
    var t1 = t0
    var c1 = c0
    val err = try {
      val df = build
      t1 = Tracer.nowMs()
      c1 = Tracer.clockMs()
      result(df)
      ""
    } catch {
      case e: Throwable =>
        if (t1 == t0) { t1 = Tracer.nowMs(); c1 = Tracer.clockMs() }
        s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    } finally sc.setLocalProperty(Tracer.OpProperty, null)
    val t2 = Tracer.nowMs()
    val c2 = Tracer.clockMs()
    val rec = OpRec(id, pass, Tracer.on, name, kind, t0, t2, t1 - t0, t2 - t1, err)
    if (Tracer.on) {
      Tracer.add(Span(id, 0L, "op", name, c0, c2, Map("pass" -> pass.toDouble),
        Map("kind" -> kind)))
      Tracer.add(Span(Tracer.newId(), id, "build", name, c0, c1))
      Tracer.add(Span(Tracer.newId(), id, "result", name, c1, c2))
    }
    if (!rec.ok) System.err.println(s"[perfbench] $name failed: ${rec.error}")
    rec
  }

  /** Drops cached blocks and unloads streaming state stores between
    * operations, as `graft.Bench` does, so each entry starts clean.
    */
  def settle(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }

  /** Nominal seconds of one pass (or round) per workload on a 4-core
    * box; a run makes `seconds / nominal` passes (at least one), so the
    * pass count is fixed by the arguments, never by how fast a pass
    * went.
    */
  val NominalPassS = Map("analytics_x10" -> 10.0, "streaming_entries" -> 10.0,
    "lakehouse_dml" -> 8.0)

  /** Runs the workload's passes back to back (closed loop, one client).
    * A traced run makes four, untraced and traced in ABBA order, so
    * warm-up drift splits evenly between the two sides of
    * `trace.overhead_frac`.
    */
  def loop(spark: SparkSession, c: Conf)(pass: Int => (Seq[OpRec], Double))
      : (Seq[OpRec], Seq[Pass]) = {
    val ops = ArrayBuffer[OpRec]()
    val passes = ArrayBuffer[Pass]()
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val n = math.max(1, (c.seconds / NominalPassS(c.workload)).toInt)
    for (p <- 0 until (if (c.trace) 4 else n)) {
      val traced = c.trace && (p % 4 == 1 || p % 4 == 2)
      Tracer.on = traced
      BatchListener.recording = !traced
      Heap.recording = !traced
      val cpu0 = os.getProcessCpuTime
      val (o, wall) = pass(p)
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      // deliver the pass's listener events before the mode changes
      org.apache.spark.GraftListenerDrain.drain(spark.sparkContext)
      ops ++= o
      passes += Pass(traced, wall, cpu)
    }
    Tracer.on = false
    BatchListener.recording = false
    Heap.recording = !c.trace
    Heap.sampleAfterGc()
    Heap.recording = false
    (ops.toSeq, passes.toSeq)
  }

  /** Executes a frame and discards the rows, as `graft.Bench` times it. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** A catalog workload: seeded-order passes over `entries`, each
    * result executed through the `noop` sink. Before the passes, one
    * untimed execution per entry on the same inputs writes its result to
    * `<out>/results/<entry>` for the oracle check; it also leaves the
    * JIT warm for the workload's scale, so every timed pass runs warm.
    */
  def catalog(spark: SparkSession, c: Conf, entries: Seq[String]): RunResult = {
    val fns = graft.SparkEntry.queries
    // codegen warm-up at the smallest scale, outside the timed window
    entries.foreach { e =>
      op(spark, -1, e, "warmup")(fns(e)(spark, c.warm))(noop)
      settle(spark)
    }
    stage("warm-up done")
    val setupEnd = Tracer.nowMs()
    val checks = entries.map { e =>
      val r = op(spark, -2, e, "check")(fns(e)(spark, c.data))(
        _.write.mode("overwrite").parquet(
          new File(c.out, s"results/$e").getAbsolutePath))
      settle(spark)
      r
    }
    stage("check executions done")
    val (ops, passes) = loop(spark, c) { p =>
      val order = new Random(c.seed * 7919L + p).shuffle(entries)
      val t0 = Tracer.nowMs()
      var settleMs = 0.0
      val recs = order.map { e =>
        val r = op(spark, p, e, "entry")(fns(e)(spark, c.data))(noop)
        val s0 = Tracer.nowMs()
        settle(spark)
        settleMs += Tracer.nowMs() - s0
        r
      }
      (recs, (Tracer.nowMs() - t0 - settleMs) / 1000.0)
    }
    val oracles = graft.SparkEntry.oracleSql.filter(kv => entries.contains(kv._1))
    RunResult(setupEnd, ops ++ checks, passes, Map.empty, oracles)
  }

  def writeString(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8))
  }
}

/** Peak heap in use right after a GC, from the JVM's GC notifications. */
object Heap {
  @volatile var recording = false
  @volatile var peakBytes = 0L
  private lazy val heapPools: Set[String] =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getName).toSet

  def install(): Unit = {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.openmbean.CompositeData
    heapPools
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .forEach { gc =>
        gc.asInstanceOf[javax.management.NotificationEmitter].addNotificationListener(
          (n: javax.management.Notification, _: Any) =>
            if (recording && n.getType ==
                GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[CompositeData])
              val after = info.getGcInfo.getMemoryUsageAfterGc
              var used = 0L
              after.forEach((k, v) => if (heapPools(k)) used += v.getUsed)
              synchronized { peakBytes = math.max(peakBytes, used) }
            }, null, null)
      }
  }

  /** One sample at the end of the window, so a window without a GC
    * still reports its live heap.
    */
  def sampleAfterGc(): Unit = {
    System.gc()
    Thread.sleep(200)
  }
}
