package raptorbench

import org.apache.spark.sql.SparkSession

/** Per-layer figures from a traced run's spans, and the JSON written at
  * exit. */
object Report {

  /** Layers reported as per-layer metrics, named with `.` as `_`; a
    * workload without a layer reports 0 for it. */
  val Layers: Seq[String] = Seq("scan", "assign", "pip", "pyramid", "snapshot.write")

  /** Self time: a span's length less the part its child spans cover. */
  def selfMs(s: Span, spans: Seq[Span]): Double =
    s.ms - spans.filter(_.parent == s.id).map(_.ms).sum

  /** Per operation: its layer calls' stage rows folded into one figure,
    * then the median over the traced operations. */
  def opMetrics(spark: SparkSession, spans: Seq[Span], plainP50: Double,
                codegenFallbacks: Double): Seq[(String, Double, String)] = {
    val ops = spans.filter(_.isOp)
    val children = spans.filterNot(_.isOp).groupBy(_.parent)
    def perOp(f: Seq[Span] => Double): Double =
      if (ops.isEmpty) 0.0
      else Stats.median(ops.map(o => f(children.getOrElse(o.id, Nil))))
    def stageSum(f: graft.operators.QueryMetrics.StageRow => Double)(cs: Seq[Span]) =
      cs.flatMap(_.stages).map(f).sum
    val tracedP50 = if (ops.isEmpty) Double.NaN else Stats.median(ops.map(_.ms))
    val cacheMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
    Seq(
      ("traced_op_p50_ms", tracedP50, "ms"),
      ("trace_overhead", tracedP50 / plainP50, "ratio"),
      ("driver_ms_per_op", perOp(cs => cs.map(c =>
        math.max(0.0, c.ms - c.stages.map(_.wallMs).sum)).sum), "ms"),
      ("exec_cpu_ms_per_op", perOp(stageSum(_.executorCpuMs.toDouble)), "ms"),
      ("gc_ms_per_op", perOp(stageSum(_.jvmGcMs.toDouble)), "ms"),
      ("jobs_per_op", perOp(_.flatMap(_.stages.map(_.jobId)).distinct.size.toDouble), "count"),
      ("stages_per_op", perOp(_.map(_.stages.size.toDouble).sum), "count"),
      ("stages_skipped_per_op", perOp(_.map(_.skipped.toDouble).sum), "count"),
      ("tasks_per_op", perOp(stageSum(_.numTasks.toDouble)), "count"),
      ("shuffle_mb_per_op", perOp(stageSum(_.shuffleWriteBytes / 1e6)), "MB"),
      ("input_rows_per_op", perOp(stageSum(_.inputRecords.toDouble)), "count"),
      ("task_skew", perOp { cs =>
        val st = cs.flatMap(_.stages)
        if (st.isEmpty) 1.0
        else {
          val heavy = st.maxBy(_.wallMs)
          heavy.taskDurMaxMs.toDouble / math.max(1L, heavy.taskDurP50Ms)
        }
      }, "ratio"),
      ("codegen_fallbacks", codegenFallbacks, "count"),
      ("cache_mb", cacheMb, "MB"))
  }

  /** Per layer of [[Layers]]: median self time, executor CPU, stages and
    * shuffle written per call. */
  def layerMetrics(spans: Seq[Span]): Seq[(String, Double, String)] = {
    val summary = layerSummary(spans)
    for {
      layer <- Layers
      (key, suffix, unit) <- Seq(("self_p50_ms", "ms", "ms"),
        ("cpu_ms_per_call", "cpu_ms", "ms"), ("stages_per_call", "stages", "count"),
        ("shuffle_mb_per_call", "shuffle_mb", "MB"))
    } yield (s"${layer.replace('.', '_')}_$suffix",
      summary.get(layer).map(_(key)).getOrElse(0.0), unit)
  }

  /** Workload counts from its input properties, 0 where a workload has
    * no such layer: the pip join's candidates, pairs emitted and yield
    * (emitted ÷ candidates), and the last snapshot's files and size. */
  def workloadMetrics(props: Map[String, Double]): Seq[(String, Double, String)] = {
    def p(k: String) = props.getOrElse(k, 0.0)
    Seq(("pip_candidates", p("pip_candidates"), "count"),
      ("pip_emitted", p("pip_emitted"), "count"),
      ("pip_yield", if (p("pip_candidates") > 0) p("pip_emitted") / p("pip_candidates")
        else 0.0, "ratio"),
      ("snapshot_files", p("snapshot_files"), "count"),
      ("snapshot_mb", p("snapshot_mb"), "MB"))
  }

  /** Per layer name (operations prefixed `op:`): calls, and per call the
    * median self time, stages, executor CPU and shuffle written. */
  def layerSummary(spans: Seq[Span]): Map[String, Map[String, Double]] =
    spans.groupBy(s => (if (s.isOp) "op:" else "") + s.name).map { case (name, ss) =>
      name -> Map(
        "calls" -> ss.size.toDouble,
        "self_p50_ms" -> Stats.median(ss.map(selfMs(_, spans))),
        "stages_per_call" -> Stats.median(ss.map(_.stages.size.toDouble)),
        "cpu_ms_per_call" -> Stats.median(ss.map(_.stages.map(_.executorCpuMs).sum.toDouble)),
        "shuffle_mb_per_call" ->
          Stats.median(ss.map(_.stages.map(_.shuffleWriteBytes).sum / 1e6)))
    }

  def selfTimeTable(spans: Seq[Span]): String =
    layerSummary(spans).toSeq.sortBy(_._1).map { case (name, m) =>
      f"[raptorbench] $name%-20s calls ${m("calls")}%5.0f  self p50 ${m("self_p50_ms")}%9.1f ms" +
        f"  stages/call ${m("stages_per_call")}%5.0f"
    }.mkString("\n")

  def spanJson(s: Span, t0: Long, spans: Seq[Span]): String = {
    val st = s.stages
    Json.render(Map(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "kind" -> (if (s.isOp) "op" else "layer"),
      "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
      "self_ms" -> selfMs(s, spans),
      "jobs" -> st.map(_.jobId).distinct.size, "stages" -> st.size,
      "stages_skipped" -> s.skipped,
      "tasks" -> st.map(_.numTasks).sum, "cpu_ms" -> st.map(_.executorCpuMs).sum,
      "gc_ms" -> st.map(_.jvmGcMs).sum,
      "shuffle_write_bytes" -> st.map(_.shuffleWriteBytes).sum,
      "input_bytes" -> st.map(_.inputBytes).sum,
      "task_max_ms" -> (if (st.isEmpty) 0L else st.map(_.taskDurMaxMs).max)))
  }
}

/** Minimal JSON writer for the records the benchmark emits. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k.toString) + ": " + render(x) }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => render(other.toString)
  }
}
