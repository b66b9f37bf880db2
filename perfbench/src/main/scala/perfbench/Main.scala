package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run: `Main <workload> <seed> <seconds> <trace> <runDir> <benchDir> <traceDir>`
  * (see run.py, which supplies the directories and JVM flags).
  *
  * A run prints the workload's predictions, then generates its inputs from
  * the seed (timed, but not a program metric). It sets up the session and
  * the workload [[SetupRepeats]] times and keeps the median. It prepares and
  * runs the warm cycles of ops, untimed but checked. Then one client drives a
  * closed loop of ops. Untraced, the loop runs whole cycles until `seconds`
  * have passed. Traced, it runs a fixed schedule so counts repeat exactly,
  * alternating traced and untraced cycles so the run also measures the
  * tracing's own overhead. Every op's result is checked; a failed or wrong op
  * is counted and never turned into a time.
  */
object Main {
  val SetupRepeats = 5
  /** Untimed cycles before the window: the JIT is still compiling the ops'
    * code paths after one, and a window that starts then varies more from
    * run to run. */
  val WarmCycles = 2

  sealed trait Status
  case object Ok extends Status
  case object Wrong extends Status
  final case class Failed(error: String) extends Status

  final case class Result(id: Int, kind: String, category: String, traced: Boolean,
      wallS: Double, status: Status, units: Long)

  /** One op: `run` does the timed work and returns the untimed check. */
  final case class Op(kind: String, category: String, units: Long, run: Tracer => (() => Boolean))

  def main(args: Array[String]): Unit = {
    val Array(workloadName, seedS, secondsS, traceS, runDir, benchDir, traceDir) = args
    val (seed, seconds, trace) = (seedS.toLong, secondsS.toInt, traceS == "1")
    val cores = Runtime.getRuntime.availableProcessors()
    val master = s"local[$cores]"
    val loadStart = loadAvg()

    val w: Workload = workloadName match {
      case "logfile-ingest" => new LogfileIngest(seed, runDir)
      case "query-mix" => new QueryMix(seed, benchDir)
      case "table-commits" => new TableCommits(seed, runDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // predictions are recorded before anything is measured
    println(Json.obj("workload" -> w.name, "predictions" -> Json.arr(w.predictions.map {
      case (layer, e2e) => Json.obj("layer_metric" -> layer, "should_move" -> e2e)
    }: _*)))

    val g0 = System.nanoTime()
    val inputs = w.generate()
    val inputsS = (System.nanoTime() - g0) / 1e9

    // set-up: the first sample is the cold start, counted from process start
    // less the input generation above (the benchmark's work, not the
    // program's); the later ones rebuild on a warm JVM
    val processStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    val setupS = mutable.ArrayBuffer.empty[Double]
    val sessionS = mutable.ArrayBuffer.empty[Double]
    for (k <- 0 until SetupRepeats) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.create(master, cores)
      spark.sparkContext.setLogLevel("WARN")
      sessionS += (System.nanoTime() - t0) / 1e9
      w.setup(spark)
      val s = (System.nanoTime() - t0) / 1e9
      setupS += (if (k == 0) (System.currentTimeMillis() - processStartMs) / 1000.0 - inputsS else s)
    }
    if (trace) {
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
        spark.sessionState.newHadoopConf())
      require(fs.isInstanceOf[CountingFileSystem],
        s"traced run needs the counting filesystem, got ${fs.getClass.getName}")
      CountingFileSystem.classes = w.pathClasses
    }

    val prepared = w.prepare(spark)
    val tracer = new Tracer
    if (trace) tracer.install(spark)

    // untimed cycles first, checked like every other: JIT, codegen and
    // caches warm up on the ops the window will time
    val warm0 = System.nanoTime()
    val warm = (0 until WarmCycles * w.cycle(trace).size).map(runOp(spark, w, tracer, _, trace, traced = false))
    val warmS = (System.nanoTime() - warm0) / 1e9
    // measured here, after a fixed amount of work: after the window it would
    // grow with however many ops the window happened to fit
    val liveHeapMb = LiveHeap.mb()

    val results = mutable.ArrayBuffer.empty[Result]
    val start = System.nanoTime()
    val deadline = start + seconds * 1000000000L
    var i = warm.size
    val cycle = w.cycle(trace).size
    // the window ends on a cycle boundary, so every run times the same mix
    def more = if (trace) i < warm.size + w.tracedOps
      else (i - warm.size) % cycle != 0 || i == warm.size || System.nanoTime() < deadline
    while (more) {
      val traced = trace && ((i - warm.size) / cycle) % 2 == 0
      results += runOp(spark, w, tracer, i, trace, traced)
      i += 1
    }
    val windowS = (System.nanoTime() - start) / 1e9
    val loadEnd = loadAvg()

    if (trace) tracer.drain(spark)
    val good = results.filter(_.status == Ok)
    val attempted = prepared.attempted + warm.size + results.size
    val failed = prepared.failed + (warm ++ results).count(_.status != Ok)
    val times = good.map(_.wallS).toSeq

    // A cycle's ops differ in kind and cost, so the median op flips between
    // kinds; the cycle time sums each kind's median, weighted by how often
    // the kind runs per cycle, instead. A p90 needs ten samples beyond it and
    // a 10 s window holds about 20 ops, so the p90s go to the run record with
    // their sample counts, not to the result.
    val kindP50 = good.groupBy(_.kind).map { case (k, rs) => k -> Stats.median(rs.map(_.wallS).toSeq) }
    // ops per second of op time: the client's own checks between ops are not
    // the program's throughput. Only the kinds every cycle runs count: an op
    // that runs every few cycles would make the rate depend on how many of it
    // a window happened to fit.
    val steady = good.filter(r => w.cycle(trace).contains(r.kind)).map(_.wallS)
    val e2e = Seq(
      Metric("setup_s", Stats.median(setupS.toSeq), "s"),
      Metric("cycle_s", w.cycleMix(trace).map { case (k, n) => n * kindP50.getOrElse(k, Double.NaN) }.sum, "s"),
      Metric("ops_per_s", steady.size / steady.sum, "1/s"),
      Metric("live_heap_mb", liveHeapMb, "MB"))
    val detail = w.workloadMetrics(results.toSeq) ++ e2e ++ Seq(
      Metric("cold_start_s", setupS.head, "s"),
      Metric("op_p50_s", Stats.median(times), "s"),
      Metric("op_p90_s", Stats.p90(times), "s"),
      Metric("op_samples", times.size.toDouble, "count"),
      Metric("ops_failed_frac", failed.toDouble / attempted, "ratio"))
    val layers =
      if (!trace) Nil
      else Layers.common(tracer, results.toSeq, sessionS.toSeq) ++ w.layerMetrics(tracer, results.toSeq)

    val record = Json.obj(
      "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> Runtime.getRuntime.availableProcessors(), "master" -> master,
      "load_avg_1m_start" -> loadStart, "load_avg_1m_end" -> loadEnd,
      "inputs" -> Json.obj(inputs.toSeq: _*), "inputs_s" -> inputsS,
      "setup_samples_s" -> Json.arr(setupS.toSeq: _*),
      "session_build_samples_s" -> Json.arr(sessionS.toSeq: _*),
      "ops" -> results.size, "ops_ok" -> good.size, "window_s" -> windowS,
      "warm_cycle_s" -> warmS, "warm_ops" -> warm.size,
      "prepare_attempted" -> prepared.attempted, "prepare_failed" -> prepared.failed,
      "errors" -> Json.arr(results.collect { case Result(id, k, _, _, _, Failed(e), _) => s"$id $k: $e" }
        .take(10).toSeq: _*),
      "workload_metrics" -> Metric.json(detail),
      "op_kind_p50_s" -> Json.obj(kindP50.toSeq.sortBy(_._1): _*),
      "op_kind_s" -> Json.obj(good.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, rs) =>
        k -> Json.arr(rs.map(_.wallS).toSeq: _*) }: _*),
      "layer_metrics" -> Metric.json(layers.filterNot(_.exported)),
      "span_self_s" -> (if (trace) Json.obj(Layers.selfTimes(tracer).toSeq: _*) else Json.obj()))
    println(record)
    if (trace) {
      val dir = new java.io.File(traceDir)
      dir.mkdirs()
      val base = s"${w.name}-seed$seed"
      Files.write(new java.io.File(dir, s"$base.run.json"), record + "\n")
      Files.write(new java.io.File(dir, s"$base.spans.jsonl"), Layers.spanLines(tracer).mkString("\n") + "\n")
    }
    spark.stop()
    val metrics = if (trace) layers.filter(_.exported) else e2e
    println(Json.obj("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Metric.json(metrics)))
  }

  /** Runs op `i` once; the check runs after the clock stops. */
  private def runOp(spark: SparkSession, w: Workload, tracer: Tracer, i: Int, trace: Boolean,
      traced: Boolean): Result = {
    val op = w.op(i, trace)
    val t0 = System.nanoTime()
    var check: () => Boolean = null
    val failure = try {
      check = tracer.op(spark, i, op.kind, traced)(op.run(tracer))
      None
    } catch { case t: Throwable => Some(brief(t)) }
    val wall = (System.nanoTime() - t0) / 1e9
    val status = failure match {
      case Some(e) => Failed(e)
      case None => try { if (check()) Ok else Wrong } catch { case t: Throwable => Failed(brief(t)) }
    }
    if (status != Ok) System.err.println(s"perfbench: op $i ${op.kind}: $status")
    val r = Result(i, op.kind, op.category, traced, wall, status, op.units)
    w.afterOp(r, trace)
    r
  }

  private def brief(t: Throwable): String =
    t.getClass.getSimpleName + ": " + Option(t.getMessage).getOrElse("").linesIterator.take(1).mkString.take(200)

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}

/** What a workload brings to [[Main]]. */
trait Workload {
  def name: String
  /** (layer metric, the end-to-end metric it should move on this workload) */
  def predictions: Seq[(String, String)]
  /** Path prefixes → path class for the counting filesystem. */
  def pathClasses: Seq[(String, String)]
  /** Writes the inputs from the seed; returns their sizes. */
  def generate(): Map[String, Any]
  /** Everything a user pays before the first op, on a fresh session. */
  def setup(spark: SparkSession): Unit
  /** Untimed, checked work after set-up (warm passes, expected values). */
  def prepare(spark: SparkSession): Prepared = Prepared(0, 0)
  /** The op kinds of one cycle, in order; a traced run adds its probes. */
  def cycle(trace: Boolean): Seq[String]
  /** Each op kind with the times it runs per cycle on average, for `cycle_s`:
    * an op that takes another's place every few cycles counts in part. */
  def cycleMix(trace: Boolean): Seq[(String, Double)] = cycle(trace).map(_ -> 1.0)
  /** Ops in a traced run: a fixed schedule, so its counts repeat. */
  def tracedOps: Int
  def op(i: Int, trace: Boolean): Main.Op
  /** Called after every op, outside its timing. */
  def afterOp(r: Main.Result, trace: Boolean): Unit = ()
  /** The workload's own end-to-end figures, for the run record. */
  def workloadMetrics(results: Seq[Main.Result]): Seq[Metric]
  def layerMetrics(tracer: Tracer, results: Seq[Main.Result]): Seq[Metric]
}

final case class Prepared(attempted: Int, failed: Int)

/** A named value with its unit; `exported` ones form the traced run's result line. */
final case class Metric(name: String, value: Double, unit: String, exported: Boolean = true)

object Metric {
  def json(ms: Seq[Metric]): Json.Raw =
    Json.obj(ms.map(m => m.name -> Json.obj("value" -> m.value, "unit" -> m.unit)): _*)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  /** Nearest-rank 90th percentile. */
  def p90(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(0.9 * s.size).toInt - 1))
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Driver heap still in use after a full collection: what the session, its
  * caches and the workload's state retain after set-up and warm-up. The
  * least of three collections with pauses between: a collection lets Spark's
  * cleaner drop blocks whose last reference it found, a later one frees them.
  */
object LiveHeap {
  def mb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(300)
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }.min
}

object Files {
  def write(f: java.io.File, s: String): Unit =
    java.nio.file.Files.write(f.toPath, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Total bytes of the regular files under `dir`, filtered by path. */
  def bytesUnder(dir: String, keep: java.nio.file.Path => Boolean = _ => true): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p) && keep(p))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
  }
}

/** Minimal JSON rendering for the benchmark's output lines. */
object Json {
  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => str(k) + ": " + render(v) }.mkString("{", ", ", "}"))
  def arr(vs: Any*): Raw = Raw(vs.map(render).mkString("[", ", ", "]"))
  final case class Raw(s: String) { override def toString: String = s }
  def render(v: Any): String = v match {
    case r: Raw => r.s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case null => "null"
    case other => str(other.toString)
  }
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
