package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.tables.GraftTable

/** One writer against a keyed `GraftTable`: appends, upsert merges, range
  * deletes, predicate scans and snapshot aggregates, with `compact()` every
  * [[CompactEveryCycles]] cycles (18 commits). `tables` does most of the work, and reads sit
  * beside writes, so a write-path gain that costs reads shows. The benchmark
  * keeps a model of every key's row and checks each read and count against
  * it, and after each write the key range the write touched.
  *
  * Rows look like line items: a long key, quantity, price, status and ship
  * day. New keys always extend the key range, so files cover tight key ranges
  * and a key-range scan can skip files.
  */
final class TableCommits(seed: Long, runDir: String) extends Workload {
  import TableCommits._

  val name = "table-commits"
  private val location = s"$runDir/table"
  private val rng = new java.util.SplittableRandom(seed)
  private val model = mutable.LongMap.empty[Item]
  private var nextKey = 0L
  private var spark: SparkSession = _
  private var table: GraftTable = _
  private var commits = 0
  private var lastVersion = 0L
  private var userBytesPerRow = 0.0

  val predictions: Seq[(String, String)] = Seq(
    "session.build_s" -> "setup_s",
    "table.append_s" -> "cycle_s; append_p50_s",
    "table.merge_s" -> "ops_per_s; merge_p50_s, commit_p90_s",
    "table.delete_s" -> "ops_per_s; commit_p90_s",
    "table.compact_s" -> "ops_per_s; commit_p90_s",
    "table.commit_driver_gap_s" -> "cycle_s; append_p50_s, commit_p90_s",
    "table.jobs_per_commit" -> "cycle_s; commit_p90_s",
    "fs.*_per_commit" -> "ops_per_s; commit_p90_s",
    "fs.*_per_read" -> "cycle_s; table_read_p50_s",
    "table.open_s" -> "setup_s, cycle_s; table_read_p50_s",
    "table.version_s" -> "cycle_s; table_read_p50_s, commit_p90_s",
    "table.files_pruned_frac" -> "cycle_s; table_read_p90_s",
    "table.bytes_written_per_user_byte" -> "bytes_stored_per_user_byte (run record)",
    "table.log_bytes" -> "bytes_stored_per_user_byte (run record)",
    "jvm.gc_frac" -> "live_heap_mb",
    "logfile.*" -> "unchanged: this workload reads no logfiles")

  val pathClasses: Seq[(String, String)] = Seq(
    s"$location/_graft_" -> "log", location -> "data")

  /** The rows exist only as the seeded generator's state; nothing to write. */
  def generate(): Map[String, Any] =
    Map("initial_rows" -> InitialRows, "rows_per_write" -> RowsPerWrite, "compact_every_cycles" -> CompactEveryCycles)

  private def fresh(n: Int): Seq[(Long, Item)] = Seq.fill(n) {
    nextKey += 1 + rng.nextInt(3)
    nextKey -> item()
  }

  private def item(): Item = Item(1 + rng.nextInt(50), rng.nextInt(10000000) / 100.0,
    Statuses(rng.nextInt(Statuses.length)), 9000 + rng.nextInt(2500))

  private def frame(rows: Seq[(Long, Item)]): DataFrame =
    spark.createDataFrame(rows.map { case (k, it) => Row(k, it.qty, it.price, it.status, it.day) }.asJava, Schema)

  /** A fresh table on a fresh session: create, then open as users do. */
  def setup(s: SparkSession): Unit = {
    spark = s
    new java.io.File(location).getParentFile.mkdirs()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(location))
    model.clear()
    nextKey = 0L
    val init = fresh(InitialRows)
    GraftTable.create(s, location, frame(init), keyCol = Some("k"))
    model ++= init
    table = GraftTable.at(s, location)
    lastVersion = table.version
    commits = 0
  }

  override def prepare(s: SparkSession): Prepared = {
    val live = frame(model.toSeq)
    val dir = s"$runDir/user-bytes-probe"
    live.write.mode("overwrite").parquet(dir)
    userBytesPerRow = Files.bytesUnder(dir, _.toString.endsWith(".parquet")).toDouble / model.size
    Prepared(0, 0)
  }

  private val ops = Seq("append", "scan", "merge", "snapshot_agg", "delete", "scan")
  private val probes = Seq("probe_open", "probe_version")
  def cycle(trace: Boolean): Seq[String] = if (trace) ops ++ probes else ops
  override def cycleMix(trace: Boolean): Seq[(String, Double)] =
    cycle(trace).map {
      case "append" => "append" -> (1 - 1.0 / CompactEveryCycles)
      case k => k -> 1.0
    } :+ ("compact" -> 1.0 / CompactEveryCycles)
  val tracedOps: Int = 8 * (ops.size + probes.size)

  private def keys: Array[Long] = model.keysIterator.toArray.sorted

  /** A key range holding about `frac` of the live keys. */
  private def keyRange(frac: Double): (Long, Long) = {
    val ks = keys
    val w = math.max(1, (ks.length * frac).toInt)
    val from = rng.nextInt(math.max(1, ks.length - w))
    (ks(from), ks(math.min(ks.length - 1, from + w - 1)))
  }

  def op(i: Int, trace: Boolean): Main.Op = {
    val kinds = cycle(trace)
    val kind = kinds(i % kinds.size)
    // compaction takes the append's place in the first cycle after warm-up
    // and every [[CompactEveryCycles]] cycles after it: once in every window,
    // and in traced cycles of a traced run
    val c = i / kinds.size - Main.WarmCycles
    if (kind == "append" && c >= 0 && c % CompactEveryCycles == 0) compactOp()
    else kind match {
      case "append" =>
        val rows = fresh(RowsPerWrite)
        commitOp("append", rows.size, t => table.append(t.span("build")(frame(rows))), model ++= rows, keySpan(rows))
      case "merge" =>
        // upserts land on the most recent keys, as change feeds of recent
        // orders do: half the rows update keys drawn from the newest
        // [[MergeWindow]] live keys, half insert new ones
        val ks = keys.takeRight(MergeWindow)
        val updates = Seq.fill(RowsPerWrite / 2)(ks(rng.nextInt(ks.length))).distinct.map(_ -> item())
        val rows = updates ++ fresh(RowsPerWrite / 2)
        commitOp("merge", rows.size, t => table.merge(t.span("build")(frame(rows))), model ++= rows, keySpan(rows))
      case "delete" =>
        val (lo, hi) = keyRange(DeleteFrac)
        val gone = model.keysIterator.filter(k => k >= lo && k <= hi).toSeq
        commitOp("delete", gone.size, _ => table.deleteWhere(col("k").between(lo, hi)), model --= gone, (lo, hi))
      case "scan" =>
        val (lo, hi) = keyRange(ScanFrac)
        val want = model.iterator.filter { case (k, _) => k >= lo && k <= hi }.toSeq.sortBy(_._1)
        Main.Op("scan", "read", want.size, t => {
          lastScan = col("k").between(lo, hi)
          val df = t.span("build")(table.scan(lastScan))
          val got = t.span("execute")(df.collect())
          () => got.map(rowItem).sortBy(_._1).toSeq == want
        })
      case "snapshot_agg" =>
        val (n, qty) = (model.size.toLong, model.valuesIterator.map(_.qty.toLong).sum)
        Main.Op("snapshot_agg", "read", n, t => {
          val df = t.span("build")(table.snapshot().agg(count(lit(1)), sum(col("qty"))))
          val r = t.span("execute")(df.head())
          () => r.getLong(0) == n && r.getLong(1) == qty
        })
      case "probe_open" =>
        Main.Op("probe_open", "read", 1, _ => {
          val t2 = GraftTable.at(spark, location)
          () => t2.keyCol.contains("k")
        })
      case "probe_version" =>
        Main.Op("probe_version", "read", 1, _ => {
          val v = table.version
          () => v == lastVersion
        })
    }
  }

  private def keySpan(rows: Seq[(Long, Item)]): (Long, Long) = (rows.map(_._1).min, rows.map(_._1).max)

  /** A write op: the model changes only when the commit returns. The check
    * reads back the key range the write touched and compares it with the model. */
  private def commitOp(kind: String, rows: Int, write: Tracer => Long, apply: => Unit,
      touched: (Long, Long)): Main.Op = {
    val before = lastVersion
    Main.Op(kind, "write", rows, t => {
      val v = t.span("execute")(write(t))
      apply
      commits += 1
      lastVersion = v
      () => (v == before + 1 || (rows == 0 && v == before)) && matchesModel(touched._1, touched._2)
    })
  }

  /** The table's rows with keys in `[lo, hi]` are exactly the model's. */
  private def matchesModel(lo: Long, hi: Long): Boolean =
    table.scan(col("k").between(lo, hi)).collect().map(rowItem).sortBy(_._1).toSeq ==
      model.iterator.filter { case (k, _) => k >= lo && k <= hi }.toSeq.sortBy(_._1)

  private def compactOp(): Main.Op = {
    val (n, qty) = (model.size.toLong, model.valuesIterator.map(_.qty.toLong).sum)
    val before = lastVersion
    Main.Op("compact", "write", n, t => {
      val v = t.span("execute")(table.compact())
      commits += 1
      lastVersion = v
      () => v >= before && {
        val r = table.snapshot().agg(count(lit(1)), sum(col("qty"))).head()
        r.getLong(0) == n && r.getLong(1) == qty
      }
    })
  }

  private def rowItem(r: Row): (Long, Item) =
    r.getAs[Long]("k") -> Item(r.getAs[Int]("qty"), r.getAs[Double]("price"),
      r.getAs[String]("status"), r.getAs[Int]("day"))

  def workloadMetrics(results: Seq[Main.Result]): Seq[Metric] = {
    val ok = results.filter(_.status == Main.Ok)
    def times(kinds: String*) = ok.filter(r => kinds.contains(r.kind)).map(_.wallS)
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def p90(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.p90(xs)
    val reads = times("scan", "snapshot_agg")
    val writes = times("append", "merge", "delete", "compact")
    val tableBytes = Files.bytesUnder(location)
    Seq(
      Metric("append_p50_s", p50(times("append")), "s"),
      Metric("merge_p50_s", p50(times("merge")), "s"),
      Metric("commit_p90_s", p90(writes), "s"),
      Metric("table_read_p50_s", p50(reads), "s"),
      Metric("table_read_p90_s", p90(reads), "s"),
      Metric("bytes_stored_per_user_byte", tableBytes / (userBytesPerRow * model.size), "ratio"),
      Metric("commits", commits.toDouble, "count"),
      Metric("commit_samples", writes.size.toDouble, "count"),
      Metric("read_samples", reads.size.toDouble, "count"))
  }

  def layerMetrics(t: Tracer, results: Seq[Main.Result]): Seq[Metric] = {
    val ops = Layers.traced(t, results)
    def of(kinds: String*) = ops.filter(o => kinds.contains(o.op.kind))
    def mean(xs: Seq[Double]) = Stats.mean(xs)
    val writes = of("append", "merge", "delete", "compact")
    val rows = results.map(r => r.id -> r.units).toMap
    val written = writes.map(o => rows(o.op.id).toDouble).sum
    val logBytes = Files.bytesUnder(location, _.toString.contains("/_graft_"))
    Seq(
      Metric("table.jobs_per_commit", mean(writes.map(_.jobs.size.toDouble)), "count"),
      Metric("table.files_pruned_frac", prunedFrac, "ratio"),
      Metric("table.bytes_written_per_user_byte",
        if (written == 0) 0.0 else writeBytes.toDouble / (written * userBytesPerRow), "ratio"),
      Metric("table.log_bytes", logBytes.toDouble, "B"),
      Metric("table.compact_bytes_rewritten", compactBytes.toDouble, "B"),
      Metric("table.append_s", mean(of("append").map(_.op.wallS)), "s", exported = false),
      Metric("table.merge_s", mean(of("merge").map(_.op.wallS)), "s", exported = false),
      Metric("table.delete_s", mean(of("delete").map(_.op.wallS)), "s", exported = false),
      Metric("table.compact_s", mean(of("compact").map(_.op.wallS)), "s", exported = false),
      Metric("table.commit_driver_gap_s", mean(writes.map(o => o.op.wallS - o.jobUnionS)), "s", exported = false),
      Metric("table.open_s", mean(of("probe_open").map(_.op.wallS)), "s", exported = false),
      Metric("table.version_s", mean(of("probe_version").map(_.op.wallS)), "s", exported = false))
  }

  // Space and pruning figures of traced ops, gathered after each op outside
  // its timing (the traced run only: listing the table is not free)
  private var dataBytes = -1L
  private var writeBytes = 0L
  private var compactBytes = 0L
  private var lastScan: org.apache.spark.sql.Column = _
  private val pruned = mutable.ArrayBuffer.empty[Double]
  private def prunedFrac: Double = Stats.mean(pruned.toSeq)

  override def afterOp(r: Main.Result, trace: Boolean): Unit = if (trace) {
    val now = Files.bytesUnder(location, p => !p.toString.contains("/_graft_"))
    if (r.traced && r.status == Main.Ok && dataBytes >= 0) {
      val added = math.max(0L, now - dataBytes)
      if (r.kind == "compact") compactBytes += added
      else if (r.category == "write") writeBytes += added
      if (r.kind == "scan") {
        val all = table.scanFileCount(lit(true))
        if (all > 0) pruned += 1.0 - table.scanFileCount(lastScan).toDouble / all
      }
    }
    dataBytes = now
  }
}

object TableCommits {
  val InitialRows = 20000
  val RowsPerWrite = 2000
  val MergeWindow = 10000
  val CompactEveryCycles = 6
  val DeleteFrac = 0.01
  val ScanFrac = 0.01
  val Statuses = Array("O", "F", "P", "R")

  final case class Item(qty: Int, price: Double, status: String, day: Int)

  val Schema: StructType = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("qty", IntegerType, nullable = false),
    StructField("price", DoubleType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("day", IntegerType, nullable = false)))
}
