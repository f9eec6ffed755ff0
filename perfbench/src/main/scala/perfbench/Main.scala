package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.util.control.NonFatal

import graft.SparkEntry
import graft.ops.{ConnectedComponents, PageRank}
import graft.queries.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Order-insensitive digest of an output: the row count plus the sum of
  * `xxhash64` over all columns, doubles rounded to 12 significant digits
  * (local and distributed Brandes betweenness differ in the last bits). */
final case class Digest(rows: Long, hash: java.math.BigDecimal) {
  override def toString: String = s"$rows:$hash"
}
object Digest {
  private def round12(c: Column): Column =
    format_string("%.11e", when(c === 0, lit(0.0)).otherwise(c.cast("double")))

  def of(df: DataFrame): Digest = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round12(c)
        case _ => c
      }
    }
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    Digest(r.getLong(0),
      Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }
}

/** One closed-loop request: builds its inputs, calls into the repo and
  * hands the output to `finish` inside the operator span. */
final case class Item(name: String,
    run: (SparkSession, String, Tracer, DataFrame => Digest) => Digest)

object Workloads {
  private def direct(name: String, inputLabel: String,
      input: (SparkSession, String) => DataFrame, opLabel: String)(
      op: DataFrame => DataFrame): Item =
    Item(name, (s, d, t, finish) => {
      val in = t.tables(inputLabel)(input(s, d))
      t.op(opLabel)(finish(op(in)))
    })

  private def registry(name: String): Item = Item(name, (s, d, t, finish) =>
    t.op(name)(finish(SparkEntry.queries(name)(s, d))))

  /** Connected components and convergent PageRank on the inputs of
    * q_components and q_pagerank. With `distributed`, both local-replay gates
    * are 0, as in the parity specs. */
  def graph(distributed: Boolean): Seq[Item] = Seq(
    direct("cc", "partSupplierEdges", Tables.partSupplierEdges,
      "ConnectedComponents.components") { e =>
      (if (distributed) ConnectedComponents.components(e, maxLocalEdges = 0L)
       else ConnectedComponents.components(e)).orderBy("node")
    },
    direct("pagerank", "partSupplierDirectedEdges",
      Tables.partSupplierDirectedEdges, "PageRank.scoresFixedPointConvergent") { e =>
      (if (distributed) PageRank.scoresFixedPointConvergent(e, tolQ = 1_000_000L,
         maxIter = 60, maxLocalEdges = 0L)
       else PageRank.scoresFixedPointConvergent(e, tolQ = 1_000_000L,
         maxIter = 60)).orderBy("node")
    })

  def byName(name: String): Seq[Item] = name match {
    case "graph_local" => graph(distributed = false)
    case "graph_distributed" => graph(distributed = true)
    case "mining_pipeline" => Seq(registry("q_dup_spans_multi"))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Runs one workload in a closed loop (one driver thread, one item at a
  * time) and writes every measurement as JSON. Usage:
  * {{{
  * Main --workload W --data DIR --work DIR --seconds S --trace 0|1
  *      --out FILE [--dump ITEM,...] [--oracles NAME,...]
  * }}}
  */
object Main {
  /** Untimed warm-up after set-up, at the least: passes and multiples of
    * the measured time. Passes keep speeding up for the first five to ten
    * executions while the JIT compiles. */
  val WarmupPasses = 3
  val WarmupSecondsFactor = 2
  /** Timed passes at the least, untraced and (with trace) traced. */
  val MinPasses = 5
  val MinTracedPasses = 3

  /** The settings graft.Bench gives its session, with the same values. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
  val reportedSettings = Seq("spark.master", "spark.sql.shuffle.partitions",
    "spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong",
    "spark.ui.enabled",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning")

  /** Drops cached relations and persisted RDDs and collects garbage, so each
    * pass starts from the same state (graft.Bench's sweep). */
  private def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Waits until the listener bus has delivered every event posted so far:
    * runs a one-task job and waits for its end event. */
  private def drain(spark: SparkSession, mem: TaskMemListener): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup("perfbench-drain", "drain", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val id = sc.statusTracker.getJobIdsForGroup("perfbench-drain").max
    val deadline = System.nanoTime() + 10_000_000_000L
    while (mem.lastJob.get < id && System.nanoTime() < deadline) Thread.sleep(2)
  }

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
      .nextOption().getOrElse("").take(300)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val data = a("data")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val dump = a.get("dump").toSeq.flatMap(_.split(",")).filter(_.nonEmpty).toSet
    val oracles = a.get("oracles").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val items = Workloads.byName(workload)
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    GcWatch.install()

    val executions = LinkedHashMap[String, ArrayBuffer[String]]()
    items.foreach(i => executions(i.name) = ArrayBuffer())
    val plain = new Tracer(false)
    def execute(spark: SparkSession, item: Item, tr: Tracer): Double = {
      val t0 = System.nanoTime()
      val res =
        try tr.item(item.name)(item.run(spark, data, tr, Digest.of)).toString
        catch { case NonFatal(e) => "!" + message(e) }
      executions(item.name) += res
      (System.nanoTime() - t0) / 1e9
    }

    // Set-up: JVM start to the end of the first (untimed) pass, split at
    // the point the session is ready.
    val spark = session(cores, work)
    val mem = new TaskMemListener
    spark.sparkContext.addSparkListener(mem)
    val sessionS = (Clock.nowMs - jvmStartMs) / 1e3
    items.foreach(i => execute(spark, i, plain))
    val setupS = (Clock.nowMs - jvmStartMs) / 1e3
    val warmStart = System.nanoTime()
    var warmed = 0
    while (warmed < WarmupPasses ||
        (System.nanoTime() - warmStart) / 1e9 < WarmupSecondsFactor * seconds) {
      sweep(spark)
      items.foreach(i => execute(spark, i, plain))
      warmed += 1
    }

    val tracer = new Tracer(true)
    val listener = new TraceListener
    val passes = ArrayBuffer[LinkedHashMap[String, Any]]()
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    def count(traced: Boolean) = passes.count(_("traced") == traced)
    def more = elapsed < seconds || count(false) < MinPasses ||
      (trace && count(true) < MinTracedPasses)
    while (more) {
      val traced = trace && count(false) > count(true)
      sweep(spark)
      drain(spark, mem)
      if (traced) {
        listener.clear()
        listener.resetCachePeak()
        spark.sparkContext.addSparkListener(listener)
        spark.listenerManager.register(listener)
      }
      val firstSpan = tracer.spans.size
      val gc0 = GcWatch.gcMillis
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val itemS = LinkedHashMap[String, Double]()
      items.foreach(i => itemS(i.name) = execute(spark, i, if (traced) tracer else plain))
      val t1 = System.nanoTime()
      val cpu1 = os.getProcessCpuTime
      val gcS = (GcWatch.gcMillis - gc0) / 1e3
      drain(spark, mem)
      val (fromMs, toMs) = (Clock.ms(t0), Clock.ms(t1))
      val pass = LinkedHashMap[String, Any]("traced" -> traced,
        "pass_s" -> (t1 - t0) / 1e9, "cpu_s" -> (cpu1 - cpu0) / 1e9,
        "task_mem_peak_mb" -> mem.peakBetween(fromMs, toMs) / (1024.0 * 1024.0),
        "items" -> itemS)
      if (traced) {
        spark.sparkContext.removeSparkListener(listener)
        spark.listenerManager.unregister(listener)
        pass("layers") = Layers.of(tracer.spans.drop(firstSpan).toSeq, listener,
          cores, fromMs, toMs, gcS, GcWatch.liveOldPeak(fromMs, toMs),
          listener.cachePeakBytes)
      }
      passes += pass
    }

    // Untimed: write the outputs the caller will check against the oracles,
    // and the digest of each output as read back.
    val dumps = LinkedHashMap[String, String]()
    items.filter(i => dump(i.name)).foreach { i =>
      sweep(spark)
      val dir = s"$work/dump/${i.name}"
      dumps(i.name) =
        try i.run(spark, data, plain, { df =>
          df.coalesce(1).write.mode("overwrite").parquet(dir)
          Digest.of(spark.read.parquet(dir))
        }).toString
        catch { case NonFatal(e) => "!" + message(e) }
    }
    val oracleSql = oracles.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))

    val settings = reportedSettings.map(k => k -> spark.conf.getOption(k).getOrElse(""))
    val context = LinkedHashMap[String, Any]("cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jdk" -> s"${System.getProperty("java.version")} (${System.getProperty("java.vm.name")})",
      "spark" -> spark.version, "session" -> LinkedHashMap(settings: _*))
    val result = LinkedHashMap[String, Any]("workload" -> workload,
      "context" -> context, "setup_s" -> setupS, "setup_session_s" -> sessionS,
      "passes" -> passes,
      "executions" -> executions, "dumps" -> dumps,
      "oracle_sql" -> LinkedHashMap(oracleSql: _*))
    Files.write(Paths.get(a("out")), Json(result).getBytes(StandardCharsets.UTF_8))
    if (trace) {
      val spans = tracer.spans.map(s => Json(LinkedHashMap("id" -> s.id,
        "parent" -> s.parent, "item" -> s.item, "name" -> s.name,
        "label" -> s.label, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
      Files.write(Paths.get(s"$work/spans.jsonl"),
        spans.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    spark.stop()
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
