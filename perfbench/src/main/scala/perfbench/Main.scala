package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The benchmark's JVM side. `run.py` writes a plan (workload, fixture
  * directory, cores and the seed-ordered operation list) and reads
  * back one JSON file of raw facts: set-up times, per-operation
  * times, outputs and digests, micro-batch progress, and, in the traced
  * phase, spans and scheduler counters. All arithmetic on those facts is
  * done in Python, where it is tested.
  *
  * Usage: perfbench.Main <plan file> <result file>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val mainEpoch = Runner.epochS()
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val plan = Plan.read(args(0))
    val result = new Runner(plan).run() + ("main_epoch_s" -> mainEpoch)
    val json = org.json4s.jackson.Serialization.write(result)(org.json4s.DefaultFormats)
    Files.write(Paths.get(args(1)), json.getBytes(StandardCharsets.UTF_8))
  }
}

final case class Plan(
    settings: Map[String, String],
    phases: Seq[(String, Seq[(Int, String)])]) {
  def apply(k: String): String =
    settings.getOrElse(k, throw new IllegalArgumentException(s"plan lacks '$k'"))
}

object Plan {
  /** Lines of `key value`; `phase <name>` opens a phase and each following
    * `op <pass> <name>` line belongs to it.
    */
  def read(path: String): Plan = {
    val settings = Map.newBuilder[String, String]
    val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Vector[(Int, String)])]
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty).foreach { line =>
      line.split(" ", 2) match {
        case Array("phase", name) => phases += ((name, Vector.empty))
        case Array("op", rest) =>
          val Array(pass, name) = rest.split(" ", 2)
          val (ph, ops) = phases.last
          phases(phases.size - 1) = (ph, ops :+ ((pass.toInt, name)))
        case Array(k, v) => settings += k -> v
        case _ => throw new IllegalArgumentException(s"bad plan line: $line")
      }
    }
    Plan(settings.result(), phases.toSeq)
  }
}

final class Runner(plan: Plan) {
  private val base = System.nanoTime()
  private val cores = plan("cores").toInt
  private val fixtures = plan("fixtures")
  private val opTimeoutS = plan("op_timeout_s").toLong
  private val deadlineS = plan("deadline_s").toDouble
  private val timer = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-op-timeout"); t.setDaemon(true); t
  }
  private var spark: SparkSession = _
  private val streamEvents = new StreamEvents

  private def now(): Double = (System.nanoTime() - base) / 1e9

  def run(): Map[String, Any] = {
    val setup = setUp()
    val phases = plan.phases.map { case (name, ops) => name -> runPhase(name == "traced", ops) }
    val env = Map(
      "cores" -> cores,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "master" -> spark.sparkContext.master)
    spark.stop()
    timer.shutdownNow()
    Map("env" -> env, "setup" -> setup, "phases" -> phases.toMap)
  }

  /** Session, fixture open and warm-up, all cold; the session stays up for
    * the timed phases. `ready_epoch_s` is wall-clock time, so that `run.py`
    * can add the JVM's own start-up from the moment it launched it.
    */
  private def setUp(): Map[String, Any] = {
    val t0 = now()
    spark = graft.Session.builder(master = s"local[$cores]", shufflePartitions = cores)
      .config("spark.sql.warehouse.dir", plan("warehouse"))
      .config("spark.local.dir", plan("local_dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.streams.addListener(streamEvents)
    val t1 = now()
    graft.Tables.all.foreach(n => graft.Tables.load(spark, fixtures, n).schema)
    val t2 = now()
    runRegistry(plan("warmup"), Tracer.Off)
    spark.sharedState.cacheManager.clearCache()
    PerfbenchBus.drain(spark.sparkContext)
    streamEvents.batches.clear()
    val t3 = now()
    Map("session_s" -> (t1 - t0), "sources_s" -> (t2 - t1), "warmup_s" -> (t3 - t2),
      "ready_epoch_s" -> Runner.epochS())
  }

  /** Heap in use once full collections stop freeing memory: each one hands
    * unreachable broadcasts and shuffles to Spark's context cleaner, whose
    * releases the next one frees.
    */
  private def liveHeap(): Long = {
    def collect(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var prev = Long.MaxValue
    var used = collect()
    var rounds = 1
    while (rounds < 5 && prev - used > (1L << 20)) {
      Thread.sleep(100)
      prev = used
      used = collect()
      rounds += 1
    }
    used
  }

  private def gcTotals(): (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum)
  }

  private def runPhase(traced: Boolean, ops: Seq[(Int, String)]): Map[String, Any] = {
    val sc = spark.sparkContext
    val counters = new Counters
    val jobTimes = new JobTimes
    val tracer: Tracer = if (traced) new Spans(sc, base) else Tracer.Off
    sc.addSparkListener(jobTimes)
    if (traced) sc.addSparkListener(counters)
    val forecast = new Forecast(spark, cores, tracer)
    val (gc0, gcMs0) = gcTotals()
    val results = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = ops.groupBy(_._1).toSeq.sortBy(_._1).map { case (pass, passOps) =>
      val p0 = now()
      passOps.foreach { case (_, name) =>
        val i = results.size
        results += (if (now() > deadlineS) Map("i" -> i, "pass" -> pass, "name" -> name,
          "ok" -> false, "refused" -> true)
        else runOp(i, pass, name, tracer, forecast))
        if (!name.contains(".")) spark.sharedState.cacheManager.clearCache()
      }
      val wall = now() - p0
      spark.sharedState.cacheManager.clearCache()
      Map("pass" -> pass, "wall_s" -> wall, "heap_after_gc_bytes" -> liveHeap())
    }
    val (gc1, gcMs1) = gcTotals()
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(jobTimes)
    if (traced) sc.removeSparkListener(counters)
    val batches = streamEvents.synchronized {
      val b = streamEvents.batches.toVector
      streamEvents.batches.clear()
      b
    }
    val out = Map[String, Any]("passes" -> passes, "ops" -> results.toVector,
      "gc_count" -> (gc1 - gc0), "gc_s" -> (gcMs1 - gcMs0) / 1e3, "batches" -> batches,
      "job_ms" -> jobTimes.synchronized(jobTimes.durations.toVector))
    tracer match {
      case s: Spans => out ++ Map("spans" -> s.spans.toVector,
        "jobs" -> counters.synchronized(counters.jobs.toVector),
        "stages" -> counters.synchronized(counters.stages.toVector))
      case _ => out
    }
  }

  /** One closed-loop operation: time from the builder call to a fully
    * materialised result. A watchdog cancels its jobs after the timeout.
    */
  private def runOp(i: Int, pass: Int, name: String, tracer: Tracer,
      forecast: Forecast): Map[String, Any] = {
    val sc = spark.sparkContext
    tracer.beginOp(i)
    sc.setJobGroup(s"perfbench-$i", name, interruptOnCancel = true)
    @volatile var timedOut = false
    val watchdog = timer.schedule(new Runnable {
      def run(): Unit = { timedOut = true; sc.cancelJobGroup(s"perfbench-$i") }
    }, opTimeoutS, TimeUnit.SECONDS)
    val t0 = now()
    val outcome =
      try Right(tracer.span("op") {
        if (name.contains(".")) forecast.run(name) else runRegistry(name, tracer)
      })
      catch { case e: Throwable => Left(e) }
    val t1 = now()
    watchdog.cancel(false)
    sc.clearJobGroup()
    PerfbenchBus.drain(sc)
    streamEvents.claim(i)
    val head = Map[String, Any]("i" -> i, "pass" -> pass, "name" -> name,
      "t0" -> t0, "t1" -> t1, "timeout" -> timedOut)
    outcome match {
      case Right(out) => head ++ out + ("ok" -> true)
      case Left(e) => head ++ Map("ok" -> false,
        "error" -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
  }

  private def runRegistry(name: String, tracer: Tracer): Map[String, Any] = {
    val df = tracer.span("registry.build") {
      graft.registry.Registry.queries(name)(spark, fixtures)
    }
    tracer.span("plans.plan")(df.queryExecution.executedPlan)
    val rows = tracer.span("exec.run")(df.collect())
    val shape = tracer match {
      case _: Spans => PlanShape.counts(df.queryExecution.executedPlan)
      case _ => Map.empty[String, Long]
    }
    Map("rows" -> rows.length, "digest" -> Digest.of(df.schema, rows)) ++ shape
  }
}

object Runner {
  /** Wall-clock seconds since the epoch, to the microsecond. */
  def epochS(): Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond + t.getNano / 1e9
  }
}

/** Order-insensitive digest of a result: column names plus every row with
  * doubles at 6 significant digits, so summation order across partitions
  * cannot change it.
  */
object Digest {
  def of(schema: StructType, rows: Array[Row]): String = {
    val lines = rows.map(r => canon(r)).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(schema.fieldNames.mkString(",").getBytes(StandardCharsets.UTF_8))
    lines.foreach(l => md.update(("\n" + l).getBytes(StandardCharsets.UTF_8)))
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case v: org.apache.spark.ml.linalg.Vector => canon(v.toArray.toSeq)
    case o => o.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6))
      .stripTrailingZeros.toString
}

/** The paper's sales-forecasting pipeline, one call per operation, in the
  * order the plan gives (generate → prepare → fit → transform → smape …).
  * The model keeps its fixed default seed, so SMAPE repeats exactly.
  */
final class Forecast(spark: SparkSession, cores: Int, tracer: Tracer) {
  private var sales: DataFrame = _
  private var train: DataFrame = _
  private var valid: DataFrame = _
  private val models = scala.collection.mutable.Map.empty[String, DataFrame => DataFrame]
  private val scored = scala.collection.mutable.Map.empty[String, DataFrame]

  private val enet = graft.ml.BoostedHybrid(elasticNetParam = 0.5, regParam = 0.005,
    gbtMaxIter = 5, gbtMaxDepth = 4)

  private def smapeOf(df: DataFrame): Double =
    df.select(graft.functions.Metrics.smape(col("num_sold"), col("prediction")).cast("double"))
      .head().getDouble(0)

  def run(op: String): Map[String, Any] = {
    val (call, variant) = op.split(":", 2) match {
      case Array(c, v) => (c, v)
      case Array(c) => (c, "")
    }
    tracer.span(call) {
      call match {
        case "ml.generate" =>
          sales = graft.ml.SalesData.generate(spark, "2015-01-01", "2018-12-31").cache()
          val r = sales.agg(count(lit(1)), sum("num_sold")).head()
          Map("rows" -> r.getLong(0), "digest" -> s"${r.getLong(0)}:${Digest.canon(r.getDouble(1))}")
        case "ml.prepare" =>
          val (prepared, _) = graft.ml.SalesFeatures.prepare(spark, sales, coalesceTo = Some(cores))
          train = prepared.filter(to_date(col("date")) <= lit("2017-12-31"))
          valid = prepared.filter(to_date(col("date")) > lit("2017-12-31"))
          val n = prepared.count()
          Map("rows" -> n, "digest" -> s"rows=$n")
        case "ml.fit" =>
          models(variant) = enet.fit(train).transform
          Map.empty
        case "ml.transform" =>
          val s = models(variant)(valid).select("num_sold", "prediction").cache()
          scored(variant) = s
          val n = s.count()
          Map("rows" -> n, "digest" -> s"rows=$n")
        case "functions.smape" => Map("smape" -> smapeOf(scored(variant)))
        case "ml.scale_correction" =>
          val (w, s) = graft.ml.ScaleCorrection.bestWeight(scored(variant), "num_sold", "prediction")
          Map("weight" -> w, "smape" -> s, "digest" -> s"weight=${Digest.canon(w)}")
        case "ml.stack_fit" =>
          val stack = graft.ml.Stacking.fit(train, Seq("enet" -> enet), k = 3, metaFolds = 1,
            parallelism = cores)
          models(variant) = stack.transform
          Map.empty
        case other => throw new IllegalArgumentException(s"unknown pipeline call $other")
      }
    }
  }
}
