package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** A stratified slice of the engine's query packs (`SparkEntry.queries`) over
  * the TPC-H-like tables in `data/sf0.01`: driver-side query building, table
  * resolution, Catalyst and the `operators` do most of the work. The slice is
  * fixed (`pins/query-mix.tsv`, every 48th query in name order), so every
  * seed measures the same work; the seed sets the order the client sends the
  * queries in, shuffled anew for every pass. Each query is built and
  * collected; its row count and order-insensitive content hash must match
  * the pinned values.
  */
final class QueryMix(seed: Long, benchDir: String) extends Workload {
  val name = "query-mix"
  private val dataDir = s"$benchDir/data/sf0.01"
  private val builders = SparkEntry.queries

  /** name → (rows, hash); a hash of None pins the row count only. */
  private val pins: Seq[(String, Long, Option[Long])] =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(s"$benchDir/pins/query-mix.tsv")).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.isBlank).map { l =>
        val Array(n, rows, hash) = l.split("\t").take(3)
        (n, rows.toLong, if (hash == "-") None else Some(hash.toLong))
      }
  private val passes = scala.collection.mutable.Map.empty[Int, Seq[(String, Long, Option[Long])]]
  /** Warm passes go in name order, so every seed leaves the same state
    * behind them; timed passes in the seed's order, reshuffled per pass. */
  private def order(pass: Int) = passes.getOrElseUpdate(pass,
    if (pass < Main.WarmCycles) pins else new scala.util.Random(seed * 1000003L + pass).shuffle(pins))
  private var spark: SparkSession = _

  val predictions: Seq[(String, String)] = Seq(
    "session.build_s" -> "setup_s",
    "query.build_s" -> "cycle_s; query_p50_s",
    "query.build_jobs" -> "cycle_s; query_p50_s",
    "plan.analysis_s" -> "cycle_s; query_p50_s",
    "plan.optimization_s" -> "cycle_s; query_p50_s",
    "plan.planning_s" -> "cycle_s; query_p50_s",
    "exec.job_s" -> "ops_per_s; query_p90_s, queries_per_s",
    "exec.driver_gap_s" -> "ops_per_s; query_p90_s, queries_per_s",
    "exec.task_cpu_s" -> "ops_per_s; queries_per_s",
    "exec.shuffle_write_bytes" -> "ops_per_s; query_p90_s",
    "exec.spill_bytes" -> "ops_per_s; query_p90_s",
    "jvm.gc_frac" -> "live_heap_mb",
    "logfile.* and table.*" -> "cycle_s, slightly at most: few queries in the slice scan logfiles or commit")

  val pathClasses: Seq[(String, String)] = Seq(dataDir -> "input")

  def generate(): Map[String, Any] = Map(
    "queries" -> pins.size, "data" -> "sf0.01",
    "data_bytes" -> Files.bytesUnder(dataDir), "first_timed" -> order(Main.WarmCycles).head._1)

  private def run(q: String): Array[Row] = builders(q)(spark, dataDir).collect()

  private def check(pin: (String, Long, Option[Long]), rows: Array[Row]): Boolean = {
    val (rowsN, hash) = Fingerprint(rows)
    rowsN == pin._2 && pin._3.forall(_ == hash)
  }

  /** Warm-up on the first query in name order, the same for every seed. */
  def setup(s: SparkSession): Unit = {
    spark = s
    run(pins.head._1)
  }

  def cycle(trace: Boolean): Seq[String] = pins.map(_._1)
  val tracedOps: Int = 2 * pins.size

  def op(i: Int, trace: Boolean): Main.Op = {
    val pin = order(i / pins.size)(i % pins.size)
    Main.Op(pin._1, "read", 1, t => {
      val df = t.span("build")(builders(pin._1)(spark, dataDir))
      val rows = t.span("execute")(df.collect())
      () => check(pin, rows)
    })
  }

  def workloadMetrics(results: Seq[Main.Result]): Seq[Metric] = {
    val times = results.filter(_.status == Main.Ok).map(_.wallS)
    Seq(
      Metric("query_p50_s", if (times.isEmpty) 0.0 else Stats.median(times), "s"),
      Metric("query_p90_s", if (times.isEmpty) 0.0 else Stats.p90(times), "s"),
      Metric("queries_per_s", times.size / times.sum, "1/s"),
      Metric("query_samples", times.size.toDouble, "count"))
  }

  def layerMetrics(t: Tracer, results: Seq[Main.Result]): Seq[Metric] = {
    val builds = t.spans.filter(_.name == "build").toSeq
    val jobs = t.jobs.values().asScala.toSeq
    val n = math.max(1, builds.size).toDouble
    Seq(
      Metric("query.build_jobs",
        builds.map(b => jobs.count(j => j.startMs >= b.startMs && j.startMs <= b.endMs)).sum / n, "count"),
      Metric("query.build_s", builds.map(b => (b.endMs - b.startMs) / 1000.0).sum / n, "s", exported = false))
  }
}
