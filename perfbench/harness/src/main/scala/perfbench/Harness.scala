package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Benchmark JVM. One closed-loop client runs ops of one workload:
  *
  *   perfbench.Harness --workload W --work DIR --seconds S --trace 0|1
  *     --cpus N
  *
  * It sets up a local[N] session the way the CLI does, runs a cold op, then
  * warm ops until S seconds have passed (at least two). Every op runs on
  * a fresh `newSession()` so no session cache carries over. It writes
  * DIR/result.json. With --trace 1 it also attributes every Spark job to a
  * graft layer and writes the spans to DIR/spans.jsonl.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    def opt(k: String) = args.sliding(2).collectFirst { case Array(`k`, v) => v }
      .getOrElse(throw new IllegalArgumentException(s"missing $k"))
    val workloadName = opt("--workload")
    val work = opt("--work")
    val seconds = opt("--seconds").toDouble
    val traced = opt("--trace") == "1"
    val cpus = opt("--cpus").toInt
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // Deep enough call-site stacks that the owning graft frame is present.
      .config("spark.callstack.depth", "200")
      .withExtensions(new graft.plans.GraftExtensions())
      .getOrCreate()
    base.sparkContext.setLogLevel("ERROR")
    val recorder = new Recorder(traced)
    base.sparkContext.addSparkListener(recorder)
    // Warm-up: bring up the executor threads and the scheduler path.
    base.range(1000).count()
    val workload = Workload(workloadName, work)
    val parseMs = workload.prepare(base)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val spans = mutable.ArrayBuffer[Span]()
    val codegen = mutable.ArrayBuffer[(Long, Double)]()
    var session: Option[SparkSession] = None
    var warmStart = Long.MaxValue // set when the cold op ends
    var rep = 0
    while (rep < 3 || System.currentTimeMillis() - warmStart < seconds * 1000) {
      // Isolation outside the timed section: drop what the previous op's
      // session cached or pinned, then hand Main.run a fresh session.
      session.foreach { s =>
        graft.core.Materialize.clear(s)
        graft.core.Lineage.releaseAllStorage(s)
      }
      val s = base.newSession()
      SparkSession.setActiveSession(s)
      SparkSession.setDefaultSession(s)
      if (traced) s.listenerManager.register(recorder)
      session = Some(s)
      codegen += compileState()
      val out = workload.run(s, rep)
      codegen += compileState()
      val opId = spans.size
      spans += Span(opId, "op", s"$workloadName#$rep", out.steps.head.startMs,
        out.steps.last.endMs, -1, workloadName)
      out.steps.foreach(st => spans += Span(spans.size, "step", st.name,
        st.startMs, st.endMs, opId, workloadName))
      val failed = out.steps.filterNot(_.ok).map(st => s"${st.name}: ${st.error}") ++
        out.checkError.toSeq
      ops += Map("rep" -> rep, "start_ms" -> out.steps.head.startMs,
        "end_ms" -> out.steps.last.endMs,
        "steps" -> out.steps.map(st => Map("name" -> st.name,
          "s" -> (st.endMs - st.startMs) / 1e3, "cpu_s" -> st.cpuS, "ok" -> st.ok)),
        "check" -> out.check, "errors" -> failed)
      if (rep == 0) warmStart = System.currentTimeMillis()
      rep += 1
    }
    // Stopping the context drains the listener bus, so the recorder has
    // seen every event of every op before it is read.
    base.stop()

    val opRecs = ops.zipWithIndex.map { case (o, i) =>
      val start = o("start_ms").asInstanceOf[Long]
      val end = o("end_ms").asInstanceOf[Long]
      val (c0, m0) = codegen(2 * i)
      val (c1, m1) = codegen(2 * i + 1)
      val stepSpans = spans.filter(sp => sp.kind == "step" &&
        sp.startMs >= start && sp.endMs <= end)
      val jobs = stepSpans.map(sp => Layers.jobsIn(recorder, sp.startMs, sp.endMs).size).sum
      val e2e = Map("jobs" -> jobs,
        "mem_peak_mb" -> Layers.storagePeak(recorder, start, end) / 1048576.0)
      val layers =
        if (traced) Layers(recorder, stepSpans.toSeq, cpus) ++ Map(
          "codegen.compiles" -> (c1 - c0).toDouble,
          "codegen.compile_ms" -> math.max(0.0, m1 - m0))
        else Map.empty
      o ++ e2e ++ Map("layers" -> layers)
    }
    if (traced) {
      val stepsAll = spans.filter(_.kind == "step")
      // Jobs outside every step (set-up, output checks) are not op work.
      recorder.jobs.foreach { j =>
        stepsAll.find(sp => j.startMs >= sp.startMs && j.startMs <= sp.endMs)
          .foreach(parent => spans += Span(spans.size, "job",
            s"job ${j.id} ${j.module}", j.startMs, j.endMs, parent.id, workloadName))
      }
      val lines = spans.map(sp => Json.write(Map("id" -> sp.id, "kind" -> sp.kind,
        "name" -> sp.name, "start_ms" -> sp.startMs, "end_ms" -> sp.endMs,
        "parent" -> sp.parent, "workload" -> sp.workload)))
      Files.write(Paths.get(s"$work/spans.jsonl"), (lines.mkString("\n") + "\n").getBytes(UTF_8))
    }
    write(s"$work/result.json", Map("setup_s" -> setupS,
      "config_parse_ms" -> parseMs, "cpus" -> cpus, "ops" -> opRecs))
  }

  /** (compilations so far, their total ms). The histogram keeps every
    * sample until it holds 1028; past that the total is count × mean.
    */
  private def compileState(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    val total = if (n <= snap.size) snap.getValues.sum.toDouble else n * snap.getMean
    (n, total)
  }

  private def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), Json.write(v).getBytes(UTF_8))
}

