package raptorbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  * `Main --workload <tile|build> --seed <n> --seconds <s> --trace <0|1> --out <dir>`.
  *
  * A run sets its workload up, runs the workload's fixed number of untimed
  * warm-up operations, sets it up again several times (set-up time is the
  * median of these), then times operations for the given seconds,
  * resetting state and collecting garbage before each one. Traced, it alternates untraced and traced
  * operations over the same window.
  * Every operation's output is checked outside its timed region. The last
  * stdout line is `RESULT <json>` with the end-to-end metrics, or, traced,
  * the per-layer metrics; the full record goes to `<out>/`. */
object Main {

  val Cores = 2

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code =
      try run(opts("workload"), opts("seed").toLong, opts("seconds").toDouble,
        opts("trace") == "1", opts("out"))
      catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    sys.exit(code)
  }

  private def now: Double = System.nanoTime() / 1e9

  def session(out: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores * 2)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def workload(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "tile"  => new TileWorkload(spark, seed)
    case "build" => new BuildWorkload(spark, seed)
    case other   => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def run(name: String, seed: Long, seconds: Double, trace: Boolean,
          out: String): Int = {
    val spark = session(out)
    CodegenFallbacks.install(spark)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val phases = ArrayBuffer("session" -> sessionS)
    var mark = now
    def phase(name: String): Unit = {
      phases += name -> (now - mark)
      mark = now
    }
    val wl = workload(name, spark, seed)
    /** One set-up from the seed into an empty directory; returns its time. */
    def setupInto(i: Int): Double = {
      val dir = s"$out/data/$name-$i"
      Inputs.deleteTree(dir)
      val t0 = now
      wl.setup(dir)
      now - t0
    }
    val coldSetup = setupInto(0)
    phase("setup")
    wl.prepare()
    phase("references")

    var attempted = 0
    var failed = 0
    var nextOp = 0
    val fallbacks = ArrayBuffer.empty[Double]
    /** One operation: reset, time, verify. Returns its time, or None.
      * Traced runs also drain the listener bus around it (untimed) to
      * charge it its codegen fallbacks. */
    def step(tr: Tracer): Option[Double] = {
      val i = nextOp
      nextOp += 1
      attempted += 1
      wl.reset()
      System.gc()
      if (trace) ListenerBusDrain(spark.sparkContext)
      val before = CodegenFallbacks.count
      var result: Option[wl.Result] = None
      val ok = try {
        val ms = tr.op(wl.opName) { result = Some(wl.run(i, tr)) }
        if (trace) {
          ListenerBusDrain(spark.sparkContext)
          fallbacks += (CodegenFallbacks.count - before).toDouble
        }
        if (wl.verify(i, result.get)) Some(ms) else None
      } catch {
        case e: Exception =>
          System.err.println(s"[raptorbench] operation $i failed: $e")
          None
      }
      if (ok.isEmpty) failed += 1
      ok
    }

    // Warm-up: the workload's untimed operations, for at most three times
    // the measured time.
    val untraced = new Tracer(spark, enabled = false)
    val warmEnd = now + 3 * seconds
    while (nextOp < wl.warmOps && now < warmEnd) step(untraced)
    val warmOps = nextOp
    fallbacks.clear()
    phase("warmup")
    // Set-up again, now that the JIT has compiled the paths it shares with
    // the operations: `setup_s` is the median of these repetitions, and
    // the operations below use the last one's inputs.
    val setups = (1 to wl.setupReps).map(setupInto)
    phase("setup-reps")

    // Operations for `seconds`, at least two. Traced, every second one is
    // traced, so both halves share the same stretch of the JIT and the
    // host; only untraced, checked operations give the end-to-end time.
    val tracer = new Tracer(spark, enabled = trace)
    val plain = ArrayBuffer.empty[Double]
    val end = now + seconds
    var k = 0
    while (k < 2 || now < end) {
      val tr = if (trace && k % 2 == 1) tracer else untraced
      val ms = step(tr)
      if (tr eq untraced) plain ++= ms
      k += 1
    }
    phase("measure")
    if (trace) wl.sideLayers(tracer)
    phase("side-layers")

    val correct = failed == 0 && plain.nonEmpty
    val p50 = if (plain.isEmpty) Double.NaN else Stats.median(plain.toSeq)
    val setupS = Stats.median(setups)
    val props = if (trace) wl.properties() else Map.empty[String, Double]
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_ms", p50, "ms"),
        ("rows_per_s", wl.rowsPerOp / (p50 / 1e3), "1/s"))
      else Seq(("session_s", sessionS, "s")) ++
        Report.opMetrics(spark, tracer.spans, p50,
          if (fallbacks.isEmpty) 0.0 else Stats.median(fallbacks.toSeq)) ++
        Report.layerMetrics(tracer.spans) ++
        Report.workloadMetrics(props)
    phase("report")
    val metricsJson = metrics.map { case (k, v, u) =>
      k -> Map("value" -> v, "unit" -> u) }.toMap

    val record = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "phases_s" -> phases.toMap,
      "cores" -> Cores, "session_s" -> sessionS, "cold_setup_s" -> coldSetup,
      "setup_reps_s" -> setups,
      "warmup_ops" -> warmOps, "timed_ops" -> plain.size,
      "op_ms" -> plain, "tail_percentile" -> Stats.tailPercentile(plain.size).getOrElse(0),
      "op_ms_quartiles" -> (if (plain.size >= 2) Stats.quantiles(plain.toSeq, 4) else Nil),
      "attempted" -> attempted, "failed" -> failed,
      "layers" -> Report.layerSummary(tracer.spans),
      "input" -> props,
      "metrics" -> metricsJson)
    val tag = s"$name-$seed-trace${if (trace) 1 else 0}"
    val t0Ns = tracer.spans.headOption.map(_.startNs).getOrElse(0L)
    write(s"$out/results/$tag.json", Json.render(record))
    if (trace) {
      write(s"$out/results/$tag.spans.jsonl",
        tracer.spans.map(Report.spanJson(_, t0Ns, tracer.spans)).mkString("\n") + "\n")
      System.err.println(Report.selfTimeTable(tracer.spans))
    }
    spark.stop()
    val result = Map("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metricsJson)
    println("RESULT " + Json.render(result))
    if (correct) 0 else 1
  }

  private def write(path: String, text: String): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))
  }
}
