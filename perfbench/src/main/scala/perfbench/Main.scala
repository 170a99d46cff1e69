package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The benchmark's JVM side: three timed set-ups; a first pass that writes
  * and checks every step's result and pays code generation and JIT; then
  * timed passes over the steps until `--seconds` have elapsed (at least
  * one). With `--trace 1` the tracer listens throughout and the per-layer
  * figures come from the timed passes. Writes one JSON result for
  * `perfbench/run.py`.
  *
  * Args: --workload w --seed n --seconds s --trace 0|1 --work dir
  *       --result file [--data dir] [--gen-seconds a,b,c] [--plant-fault step]
  */
object Main {
  val SetupReps = 3

  final case class StepRun(name: String, wallMs: Double, buildMs: Double,
      error: Option[String], counters: Option[StepCounters], codegenMs: Double,
      seams: Int, seamBytes: Long, startMs: Long, endMs: Long)

  final case class PassRun(steps: Seq[StepRun], heapMb: Double,
      extras: Map[String, Double]) {
    def seconds: Double = steps.filter(_.error.isEmpty).map(_.wallMs).sum / 1e3
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val genSeconds = opt.get("gen-seconds").map(_.split(",").map(_.toDouble).toSeq)
      .getOrElse(Seq.empty)
    val plant = opt.get("plant-fault")
    val wl = Workloads(workloadName, seed, opt.get("data"))
    val cores = Runtime.getRuntime.availableProcessors

    var spark: SparkSession = null
    val setupS = (0 until SetupReps).map { i =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = Session.create(cores, work)
      Session.warmUp(spark)
      wl.setup(spark)
      (System.nanoTime() - t0) / 1e9 + genSeconds.lift(i).getOrElse(0.0)
    }
    val sc = spark.sparkContext
    val tracer = new Tracer
    if (trace) {
      sc.addSparkListener(tracer)
      Session.listenerManager(spark).register(tracer)
    }
    val rnd = new scala.util.Random(seed)
    val outRoot = work.resolve("out")
    settle()

    /** Runs one step; its result is written as parquet to `out` when given
      * (the checked first pass), else to the noop sink as in graft.Bench.
      */
    def runStep(step: Step, pass: Pass, out: Option[Path]): StepRun = {
      val group = s"pass${pass.index}:${step.name}"
      val counters = if (trace) Some(tracer.open(group)) else None
      val before = sc.getPersistentRDDs.keySet
      val cg0 = CodeGenerator.compileTime
      sc.setJobGroup(group, step.name, interruptOnCancel = false)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var built = t0
      val error = try {
        val df = step.frame(pass)
        built = System.nanoTime()
        df.foreach { d =>
          out match {
            case Some(o) =>
              val result = if (plant.contains(step.name)) d.unionByName(d.limit(1)) else d
              result.write.mode("overwrite").parquet(o.toString)
            case None => d.write.mode("overwrite").format("noop").save()
          }
        }
        None
      } catch { case e: Throwable =>
        Some(s"${step.name}: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
      val t1 = System.nanoTime()
      val endMs = System.currentTimeMillis()
      sc.clearJobGroup()
      PerfbenchBus.drain(sc)
      if (trace) tracer.close()
      val codegenMs = (CodeGenerator.compileTime - cg0) / 1e6
      // the step's own checkpoint seams: persistent RDDs it registered,
      // sized and then released outside the timed region, as graft.Bench does
      val added = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
      val seamBytes = sc.getRDDStorageInfo.filter(i => added.contains(i.id))
        .map(i => i.memSize + i.diskSize).sum
      added.values.foreach(_.unpersist(blocking = true))
      StepRun(step.name, (t1 - t0) / 1e6, if (step.buildOnly) (built - t0) / 1e6 else 0.0,
        error, counters, codegenMs, added.size, seamBytes, startMs, endMs)
    }

    // ---- passes. The first writes every step's result as parquet, which
    // is checked here and by the DuckDB oracle; it also pays code
    // generation and JIT for the steps and is reported as first_pass_s.
    // Timed passes follow until `seconds` have elapsed, at least one.
    val passes = Seq.newBuilder[PassRun]
    val errors = Seq.newBuilder[String]
    val failedSteps = Set.newBuilder[String]
    var firstPassS, rows, bytes = 0.0
    var measureStart = 0L
    var index = 0
    while (index < 2 || (System.nanoTime() - measureStart) / 1e9 < seconds) {
      if (index == 1) measureStart = System.nanoTime()
      val dir = work.resolve("passes").resolve(s"pass$index")
      Files.createDirectories(dir)
      val pass = new Pass(spark, index, dir)
      wl.beforePass(pass)
      val steps = wl.order(rnd).map { step =>
        val out = if (index == 0) Some(outRoot.resolve(step.name)) else None
        val run = runStep(step, pass, out)
        if (index == 0) {
          val wrote = out.filter(Files.isDirectory(_))
          wrote.foreach { o =>
            val (r, b) = Parquet.rowsAndBytes(o)
            rows += r
            bytes += b
          }
          run.error.orElse(wl.check(step, pass, wrote)).foreach { e =>
            errors += e
            failedSteps += step.name
          }
        } else run.error.foreach(e => errors += s"pass $index: $e")
        run
      }
      val extras = wl.afterPass(pass)
      deleteTree(dir)
      settle()
      val rt = Runtime.getRuntime
      if (index == 0) firstPassS = steps.map(_.wallMs).sum / 1e3
      else passes += PassRun(steps, (rt.totalMemory - rt.freeMemory) / 1048576.0,
        extras + ("output.rows" -> rows))
      index += 1
    }
    val all = passes.result()
    spark.stop()

    val stepMs = all.flatMap(_.steps).filter(_.error.isEmpty)
      .groupBy(_.name).map { case (n, rs) => n -> Stats.median(rs.map(_.wallMs)) }
    // the sink's bytes per record extracted (ELT); elsewhere the result
    // parquet's bytes per output row, from the checked first pass
    def bytesPerRecord(p: PassRun) =
      if (p.extras.contains("records")) p.extras("sink.bytes_out") / p.extras("records")
      else bytes / math.max(1.0, rows)
    val endToEnd = Map(
      "setup_s" -> Stats.median(setupS),
      "first_pass_s" -> firstPassS,
      "pass_s" -> Stats.median(all.map(_.seconds)),
      "step_geomean_ms" -> Stats.geomean(stepMs.values.toSeq),
      "heap_retained_mb" -> Stats.median(all.map(_.heapMb)),
      "bytes_per_record" -> Stats.median(all.map(bytesPerRecord)))
    val layers = if (trace) Layers.metrics(all, wl, cores) else Map.empty

    Json.write(Paths.get(opt("result")), Map(
      "workload" -> workloadName, "seed" -> seed, "cores" -> cores, "inputs" -> wl.inputs,
      "confs" -> Session.confs(cores, work), "setup_s_samples" -> setupS,
      "passes" -> all.size, "attempted" -> wl.steps.size * (all.size + 1),
      "errors" -> errors.result(), "out" -> outRoot.toString,
      "oracle_sql" -> wl.oracleSql.filter(kv => !failedSteps.result()(kv._1)),
      "step_ms" -> stepMs, "end_to_end" -> endToEnd, "per_layer" -> layers,
      "trace" -> (if (trace) all.zipWithIndex.map { case (p, i) => Layers.passRecord(i + 1, p) }
                  else Nil)))
  }

  /** Untimed: collect garbage and let Spark's cleaner threads drain what
    * the last set-up or pass released, so it does not land in the next
    * pass or in the retained-heap reading.
    */
  private def settle(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
  }

  private def deleteTree(dir: Path): Unit =
    if (Files.exists(dir))
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}

/** The session the benchmark measures: graft.Bench's confs with shuffle
  * partitions at the core count and none of Bench's environment knobs, so
  * the engine's defaults are what is timed. Scratch space stays in `work`.
  */
object Session {
  def confs(cores: Int, work: Path): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.shuffle.sort.bypassMergeThreshold" -> "0",
    "spark.sql.ui.retainedExecutions" -> "1000",
    "spark.ui.retainedJobs" -> "1000",
    "spark.ui.retainedStages" -> "1000",
    "spark.ui.retainedTasks" -> "100000",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> work.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString)

  def create(cores: Int, work: Path): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
      .withExtensions(new graft.functions.GraftExtensions)
    confs(cores, work).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def listenerManager(s: SparkSession) =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager

  /** The first job of a session compiles Spark's basic scan and aggregate
    * paths; this pays for it once per set-up (graft.Bench's first warm-up
    * statement). The steps' own paths are warmed by the first pass.
    */
  def warmUp(spark: SparkSession): Unit =
    spark.range(1000000).selectExpr("sum(id)").collect()
}

object Parquet {
  /** Rows (from the footers) and bytes of the parquet files under `dir`. */
  def rowsAndBytes(dir: Path): (Long, Long) = {
    val files = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    val conf = new org.apache.hadoop.conf.Configuration()
    val rows = files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), conf))
      try r.getRecordCount finally r.close()
    }.sum
    (rows, files.map(Files.size).sum)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-3))).sum / xs.size)
}

object Json {
  private val mapper = new ObjectMapper().enable(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS)

  private def java(v: Any): AnyRef = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> java(x) }.asJava
    case o: Option[_] => o.map(java).orNull
    case s: Iterable[_] => s.map(java).toSeq.asJava
    case x => x.asInstanceOf[AnyRef]
  }

  def write(path: Path, v: Any): Unit =
    Files.writeString(path, mapper.writerWithDefaultPrettyPrinter().writeValueAsString(java(v)))
}
