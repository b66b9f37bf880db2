package graft.tables

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.{DataType, StructType}

import graft.tables.GraftTable.AddFile

/** The `{"meta":…}` line of one `_graft_log` commit — the single definition
  * of the log's metadata keys. Every commit carries the table definition in
  * force at its version, so time travel reads each version under its own
  * schema, names and policies; `op`, `ts`, `txn`, `dataChange` and
  * `branchPoint` describe the commit itself and are not carried forward.
  *
  *   - `schema`: the logical schema as Spark JSON (field metadata holds the
  *     generated / identity / unique-key declarations).
  *   - `keyCol`, `partitionBy`: the table identity [[GraftTable.at]] opens
  *     with; REPLACE TABLE and partition evolution change them.
  *   - `colmap`: COLUMN MAPPING, logical → physical name, non-identity
  *     entries only. Physical names (what parquet files store) are assigned
  *     when a column first appears and never change; RENAME COLUMN only
  *     rebinds the logical name, so files of every era resolve by physical
  *     name (the published name-mode column-mapping design).
  *   - `retired`: physical names retired by DROP COLUMN. Old files still hold
  *     their values, so no later column may bind them.
  *   - `constraints`: CHECK constraints, name → predicate SQL.
  *   - `bloom`: bloom-index config, physical column → expected NDV.
  *   - `idhwm`: identity high-water marks, column → furthest assigned value.
  *   - `ndv`: ANALYZE statistics, physical column → approximate distinct
  *     count. Advisory: staleness affects plan quality, never results.
  *   - `sort`: write-time sort order, physical names.
  *   - `dataChange`: false on layout-only commits (compact / optimize), which
  *     change feeds and streams skip without reading their files.
  *   - `readerFeatures` / `writerFeatures`: the protocol feature gate (see
  *     [[GraftTable.SupportedReaderFeatures]]).
  *   - `branchPoint`: the main-table version a branch was cut at, on the
  *     branch's create commit only.
  */
private[tables] final case class TableMetadata(
    op: String,
    ts: Long,
    keyCol: Option[String],
    schema: String,
    txn: Option[String] = None,
    partitionBy: Seq[String] = Nil,
    colmap: Map[String, String] = Map.empty,
    retired: Seq[String] = Nil,
    constraints: Map[String, String] = Map.empty,
    bloom: Map[String, Long] = Map.empty,
    idhwm: Map[String, Long] = Map.empty,
    ndv: Map[String, Long] = Map.empty,
    sort: Seq[String] = Nil,
    dataChange: Boolean = true,
    readerFeatures: Set[String] = Set.empty,
    writerFeatures: Set[String] = Set.empty,
    branchPoint: Option[Long] = None) {

  lazy val structType: StructType = DataType.fromJson(schema).asInstanceOf[StructType]

  /** The physical (file) name of logical column `c`. */
  def physName(c: String): String = colmap.getOrElse(c, c)

  /** The `meta` object as the log stores it: keys in the order the log has
    * always used, empty keys omitted, bloom / idhwm / ndv sorted by column.
    * The result is an immutable Scala map like the one every commit has been
    * rendered from, so its iteration order is the on-disk key order.
    */
  def encode: Map[String, Any] = {
    def list(xs: Seq[String]) = { val l = new java.util.ArrayList[String](); xs.foreach(l.add); l }
    def obj(kv: Iterable[(String, Any)]) = {
      val j = new java.util.LinkedHashMap[String, Any]()
      kv.foreach { case (k, v) => j.put(k, v) }
      j
    }
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("op", op)
    m.put("ts", ts)
    m.put("keyCol", keyCol.orNull)
    m.put("schema", schema)
    txn.foreach(m.put("txn", _))
    // transform specs contain commas ("bucket(8,k)") and ride a JSON list;
    // identity-only tables keep the legacy comma-joined string
    if (partitionBy.exists(_.contains("("))) m.put("partitionBy", list(partitionBy))
    else if (partitionBy.nonEmpty) m.put("partitionBy", partitionBy.mkString(","))
    if (colmap.nonEmpty) m.put("colmap", obj(colmap))
    if (retired.nonEmpty) m.put("retired", list(retired))
    if (constraints.nonEmpty) m.put("constraints", obj(constraints))
    if (bloom.nonEmpty) m.put("bloom", obj(bloom.toSeq.sortBy(_._1)))
    if (idhwm.nonEmpty) m.put("idhwm", obj(idhwm.toSeq.sortBy(_._1)))
    if (ndv.nonEmpty) m.put("ndv", obj(ndv.toSeq.sortBy(_._1)))
    if (sort.nonEmpty) m.put("sort", list(sort))
    if (!dataChange) m.put("dataChange", false)
    if (readerFeatures.nonEmpty) m.put("readerFeatures", list(readerFeatures.toSeq.sorted))
    if (writerFeatures.nonEmpty) m.put("writerFeatures", list(writerFeatures.toSeq.sorted))
    branchPoint.foreach(m.put("branchPoint", _))
    m.asScala.toMap
  }
}

private[tables] object TableMetadata {

  /** Decode a parsed `meta` object. Absent keys take their defaults (legacy
    * commits predate most of them); a commit without a schema takes
    * `defaultSchema`. Map entries keep their file order, so a decoded commit
    * re-encodes byte-for-byte.
    */
  def decode(m: java.util.Map[String, Object], defaultSchema: String): TableMetadata = {
    def opt(k: String): Option[Object] = Option(m.get(k))
    def strings(k: String): Seq[String] = opt(k) match {
      case Some(l: java.util.List[_]) => l.asScala.map(_.toString).toSeq
      case _ => Nil
    }
    def entries[V](k: String, f: Object => V): Map[String, V] = opt(k) match {
      case Some(j: java.util.Map[_, _]) =>
        j.asInstanceOf[java.util.Map[String, Object]].asScala.iterator
          .map { case (n, v) => n -> f(v) }.toMap
      case _ => Map.empty
    }
    def long(v: Object): Long = v.asInstanceOf[Number].longValue
    TableMetadata(
      op = opt("op").fold("?")(_.toString),
      ts = opt("ts").fold(0L)(long),
      keyCol = opt("keyCol").map(_.toString).filter(_.nonEmpty),
      schema = opt("schema").fold(defaultSchema)(_.toString),
      txn = opt("txn").map(_.toString),
      partitionBy = opt("partitionBy") match {
        case Some(_: java.util.List[_]) => strings("partitionBy")
        case Some(s) if s.toString.nonEmpty => s.toString.split(",").toSeq
        case _ => Nil
      },
      colmap = entries("colmap", _.toString),
      retired = strings("retired"),
      constraints = entries("constraints", _.toString),
      bloom = entries("bloom", long),
      idhwm = entries("idhwm", long),
      ndv = entries("ndv", long),
      sort = strings("sort"),
      dataChange = !opt("dataChange").contains(java.lang.Boolean.FALSE),
      readerFeatures = strings("readerFeatures").toSet,
      writerFeatures = strings("writerFeatures").toSet,
      branchPoint = opt("branchPoint").map(long))
  }
}

/** The table at one version: its metadata and its active files, resolved
  * from ONE listing of the log. An operation resolves one snapshot and passes
  * it down, so it validates, writes and commits against a single state. The
  * files replay on first use — metadata-only operations never pay for it.
  */
private[tables] final class Snapshot(val version: Long, val metadata: TableMetadata,
    replay: => Seq[AddFile]) {
  lazy val files: Seq[AddFile] = replay
}
