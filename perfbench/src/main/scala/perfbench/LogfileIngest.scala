package perfbench

import java.io.{BufferedOutputStream, ByteArrayOutputStream, File, FileOutputStream}
import java.util.zip.{Deflater, GZIPOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.logfile.LogParsers

/** The paper's own pipeline: count-by-level over multiline plain and gzipped
  * day-files, checked against the generator's truth, plus the seeded 1%
  * Bernoulli sample exported as text. `sources.logfile` does most of the
  * work; `tables` does none.
  *
  * The corpus comes from the benchmark's own generator, not the engine's
  * fixture, so an engine change cannot change the input: [[DayFiles]] day-files,
  * alternately in layout A (timestamp first) and B (level first), levels
  * INFO:WARN:ERROR at 500:500:1, every ERROR followed by a stack trace. Plain
  * and gz twins hold the same bytes. Plain files are read with a split size
  * below the file size, so records span split boundaries; each gz file is
  * one task, so [[DayFiles]] files on four cores leave a straggler.
  */
final class LogfileIngest(seed: Long, runDir: String) extends Workload {
  import LogfileIngest._

  val name = "logfile-ingest"
  private val dir = s"$runDir/logs"
  private val exportDir = s"$runDir/sample-export"
  private var truth: Truth = _
  private var spark: SparkSession = _
  private var expectedSample = -1L
  private var splitBytes = 0L

  val predictions: Seq[(String, String)] = Seq(
    "session.build_s" -> "setup_s",
    "logfile.plan_s" -> "cycle_s; ingest_plain_rec_per_s",
    "logfile.partitions_plain" -> "cycle_s; ingest_plain_rec_per_s",
    "logfile.partitions_gz" -> "ops_per_s; ingest_gz_rec_per_s",
    "logfile.count_only_s" -> "cycle_s; ingest_plain_rec_per_s",
    "logfile.assemble_s" -> "cycle_s; ingest_plain_rec_per_s",
    "logfile.bytes_read_per_input_byte" -> "cycle_s; ingest_plain_rec_per_s",
    "logfile.records_spanning_splits" -> "cycle_s; ingest_plain_rec_per_s",
    "logfile.task_s_sum" -> "ops_per_s; ingest_plain_rec_per_s, ingest_gz_rec_per_s",
    "logfile.task_s_max_gz" -> "ops_per_s; ingest_gz_rec_per_s",
    "logfile.task_skew_gz" -> "ops_per_s; ingest_gz_rec_per_s",
    "logfile.gc_s" -> "ops_per_s; live_heap_mb",
    "exec.driver_gap_s" -> "cycle_s; sample_export_s",
    "jvm.gc_frac" -> "live_heap_mb",
    "fs.* and table.*" -> "unchanged: this workload has no table")

  val pathClasses: Seq[(String, String)] = Seq(dir -> "input", exportDir -> "export")

  def generate(): Map[String, Any] = {
    truth = LogfileIngest.generate(dir, seed)
    // about three splits per plain file: most split ends fall inside records
    splitBytes = truth.plainBytes / DayFiles / 3
    Map("files" -> DayFiles, "records_per_kind" -> truth.records, "plain_bytes" -> truth.plainBytes,
      "gz_bytes" -> truth.gzBytes, "errors" -> truth.error, "split_bytes" -> splitBytes)
  }

  private def read(s: SparkSession, glob: String): DataFrame =
    s.read.format("logfile")
      .option("pattern", PatternA)
      .option("pattern.*-B.log*", PatternB)
      .option("maxsplitbytes", splitBytes)
      .load(s"$dir/$glob")

  private def countByLevel(df: DataFrame): Map[String, Long] =
    LogParsers.parse(df, Layout).groupBy("level").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private def sample(s: SparkSession): DataFrame =
    graft.operators.Sampling.bernoulli(read(s, "*.log"), 0.01, seed)

  def setup(s: SparkSession): Unit = {
    spark = s
    // warm-up: one plain file through the whole count-by-level path
    countByLevel(read(s, "day0-*.log"))
  }

  override def prepare(s: SparkSession): Prepared = {
    expectedSample = sample(s).count()
    // a seeded Bernoulli(0.01) draw lands within 6 sigma of its mean
    val mean = truth.records * 0.01
    Prepared(1, if (math.abs(expectedSample - mean) <= 6 * math.sqrt(mean)) 0 else 1)
  }

  private val plain = Seq("count_plain", "count_gz", "sample_export")
  private val probes = Seq("probe_count_only", "probe_assemble")
  def cycle(trace: Boolean): Seq[String] = if (trace) plain ++ probes else plain
  val tracedOps: Int = 6 * (plain.size + probes.size)

  def op(i: Int, trace: Boolean): Main.Op = {
    val kinds = cycle(trace)
    kinds(i % kinds.size) match {
      case k @ ("count_plain" | "count_gz") =>
        Main.Op(k, "read", truth.records, t => {
          val glob = if (k == "count_plain") "*.log" else "*.log.gz"
          val df = t.span("build")(LogParsers.parse(read(spark, glob), Layout).groupBy("level").count())
          t.span("logfile.plan")(df.queryExecution.executedPlan)
          val counts = t.span("execute")(df.collect()).map(r => r.getString(0) -> r.getLong(1)).toMap
          () => counts == truth.byLevel
        })
      case "sample_export" =>
        Main.Op("sample_export", "write", expectedSample, t => {
          // one line per record: the record's own newlines are escaped
          val df = t.span("build")(sample(spark)
            .select(format_string("%s@%d: %s", col("file"), col("offset"),
              regexp_replace(col("record"), "\n", "\\\\n"))))
          t.span("execute")(df.write.mode("overwrite").text(exportDir))
          () => spark.read.text(exportDir).count() == expectedSample
        })
      case "probe_count_only" =>
        Main.Op("probe_count_only", "read", truth.records, t => {
          val n = t.span("execute")(read(spark, "*.log").count())
          () => n == truth.records
        })
      case "probe_assemble" =>
        Main.Op("probe_assemble", "read", truth.records, t => {
          val r = t.span("execute")(read(spark, "*.log")
            .agg(count(lit(1)), sum(length(col("file"))), sum(col("offset")), sum(length(col("record"))))
            .head())
          () => r.getLong(0) == truth.records
        })
    }
  }

  def workloadMetrics(results: Seq[Main.Result]): Seq[Metric] = {
    val ok = results.filter(_.status == Main.Ok)
    def rate(kind: String) = {
      val rs = ok.filter(_.kind == kind)
      if (rs.isEmpty) 0.0 else truth.records / Stats.median(rs.map(_.wallS))
    }
    val exports = ok.filter(_.kind == "sample_export").map(_.wallS)
    Seq(
      Metric("ingest_plain_rec_per_s", rate("count_plain"), "rec/s"),
      Metric("ingest_gz_rec_per_s", rate("count_gz"), "rec/s"),
      Metric("sample_export_s", if (exports.isEmpty) 0.0 else Stats.median(exports), "s"),
      Metric("samples_per_kind", ok.count(_.kind == "count_plain").toDouble, "count"))
  }

  def layerMetrics(t: Tracer, results: Seq[Main.Result]): Seq[Metric] = {
    val ops = Layers.traced(t, results)
    def of(kind: String) = ops.filter(_.op.kind == kind)
    def mean(xs: Seq[Double]) = Stats.mean(xs)
    val tasksByStage = t.tasks.asScala.toSeq.groupBy(_.stageId)
    def tasksOf(o: Layers.OpTrace) = o.stages.flatMap(s => tasksByStage.getOrElse(s.id, Nil))
    // the scan stage of a count is the one with the most tasks
    def scanTasks(o: Layers.OpTrace) = tasksOf(o).groupBy(_.stageId).values.maxByOption(_.size).getOrElse(Nil)
    val gz = of("count_gz")
    val gzMax = gz.map(o => scanTasks(o).map(_.runMs).maxOption.getOrElse(0L) / 1000.0)
    val gzSkew = gz.map { o =>
      val rs = scanTasks(o).map(_.runMs.toDouble)
      if (rs.isEmpty) 0.0 else rs.max / math.max(1.0, Stats.median(rs))
    }
    val scans = t.scans.asScala.toSeq
    def scanOf(kind: String) = scans.filter(s => t.opAt(s.atMs).exists(_.kind == kind))
    val plainScans = scanOf("count_plain")
    def metric(ss: Seq[Tracer.ScanRec], m: String) = mean(ss.map(_.metrics.getOrElse(m, 0L).toDouble))
    val planS = t.spans.filter(s => s.name == "logfile.plan" &&
      of("count_plain").exists(_.op.id == s.op)).map(s => (s.endMs - s.startMs) / 1000.0)
    Seq(
      Metric("logfile.partitions_plain", mean(plainScans.map(_.partitions.toDouble)), "count"),
      Metric("logfile.partitions_gz", mean(scanOf("count_gz").map(_.partitions.toDouble)), "count"),
      Metric("logfile.bytes_read_per_input_byte",
        metric(plainScans, "logfileBytesRead") / truth.plainBytes, "ratio"),
      Metric("logfile.records_spanning_splits", metric(plainScans, "logfileRecordsSpanningSplits"), "count"),
      Metric("logfile.records_assembled", metric(plainScans, "logfileRecordsAssembled"), "count"),
      Metric("logfile.task_skew_gz", mean(gzSkew), "ratio"),
      Metric("logfile.plan_s", mean(planS.toSeq), "s", exported = false),
      Metric("logfile.count_only_s", mean(of("probe_count_only").map(_.op.wallS)), "s", exported = false),
      Metric("logfile.assemble_s", mean(of("probe_assemble").map(_.op.wallS)), "s", exported = false),
      Metric("logfile.task_s_sum", mean(ops.filter(o => o.op.kind.startsWith("count"))
        .map(_.stages.map(_.runMs).sum / 1000.0)), "s", exported = false),
      Metric("logfile.task_s_max_gz", mean(gzMax), "s", exported = false),
      Metric("logfile.gc_s", mean(ops.filter(o => o.op.kind.startsWith("count"))
        .map(_.stages.map(_.gcMs).sum / 1000.0)), "s", exported = false))
  }
}

object LogfileIngest {
  val DayFiles = 6
  val RecordsPerFile = 50000

  /** First-line regexes of the two layouts (fully match head lines only). */
  val PatternA = """\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3} (INFO|WARN|ERROR) .*"""
  val PatternB = """(INFO|WARN|ERROR) \d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3} .*"""

  /** Level from either layout: the first level word of the head line. */
  private val Layout = LogParsers.Layout(
    name = "perfbench-ab", headPattern = "",
    tsRegex = """(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3})""",
    tsFormat = "yyyy-MM-dd HH:mm:ss,SSS",
    levelRegex = """\b(INFO|WARN|ERROR)\b""",
    msgRegex = """ - (.*)$""")

  final case class Truth(records: Long, info: Long, warn: Long, error: Long,
      plainBytes: Long, gzBytes: Long) {
    def byLevel: Map[String, Long] =
      Map("INFO" -> info, "WARN" -> warn, "ERROR" -> error).filter(_._2 > 0)
  }

  private val Words = Array("request", "handled", "queue", "flush", "retry", "session",
    "opened", "closed", "commit", "batch", "timeout", "resolved", "lease", "replica")

  /** Writes `day<i>-<A|B>.log` and its `.gz` twin for each day; returns truth. */
  def generate(dir: String, seed: Long): Truth = {
    new File(dir).mkdirs()
    val rng = new java.util.SplittableRandom(seed)
    var (info, warn, error, plainBytes, gzBytes) = (0L, 0L, 0L, 0L, 0L)
    for (day <- 0 until DayFiles) {
      val layoutA = day % 2 == 0
      val buf = new ByteArrayOutputStream(RecordsPerFile * 96)
      val sb = new java.lang.StringBuilder(256)
      var ms = 0L
      for (_ <- 0 until RecordsPerFile) {
        ms += 1 + rng.nextInt(9)
        val level = rng.nextInt(1001) match {
          case x if x < 500 => info += 1; "INFO"
          case x if x < 1000 => warn += 1; "WARN"
          case _ => error += 1; "ERROR"
        }
        sb.setLength(0)
        val ts = timestamp(day, ms)
        val msg = s"${Words(rng.nextInt(Words.length))} ${Words(rng.nextInt(Words.length))} id=${rng.nextInt(1000000)}"
        if (layoutA) sb.append(ts).append(' ').append(level).append(" [worker-").append(rng.nextInt(8))
          .append("] com.example.App - ").append(msg)
        else sb.append(level).append(' ').append(ts).append(" [worker-").append(rng.nextInt(8))
          .append("] ").append(msg)
        sb.append('\n')
        if (level == "ERROR") {
          sb.append("java.lang.IllegalStateException: synthetic failure ").append(rng.nextInt(1000)).append('\n')
          for (k <- 0 until 3 + rng.nextInt(6))
            sb.append("\tat com.example.Layer").append(k).append(".invoke(Layer").append(k)
              .append(".java:").append(10 + rng.nextInt(90)).append(")\n")
        }
        buf.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      val bytes = buf.toByteArray
      val base = s"$dir/day$day-${if (layoutA) "A" else "B"}.log"
      val plain = new BufferedOutputStream(new FileOutputStream(base))
      try plain.write(bytes) finally plain.close()
      val gz = new GZIPOutputStream(new FileOutputStream(s"$base.gz"), 1 << 16) {
        `def`.setLevel(Deflater.BEST_SPEED)
      }
      try gz.write(bytes) finally gz.close()
      plainBytes += bytes.length
      gzBytes += new File(s"$base.gz").length()
    }
    Truth(info + warn + error, info, warn, error, plainBytes, gzBytes)
  }

  private def timestamp(day: Int, ms: Long): String = {
    val t = ms % 86400000L
    f"2017-01-${day + 1}%02d ${t / 3600000}%02d:${t / 60000 % 60}%02d:${t / 1000 % 60}%02d,${t % 1000}%03d"
  }
}
