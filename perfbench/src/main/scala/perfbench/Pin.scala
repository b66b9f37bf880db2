package perfbench

import graft.{GraftSession, SparkEntry}

/** Pins each query's result fingerprint on the benchmark's query data:
  * `Pin <dataDir> <outFile> [names]`. Every query runs twice, on two sessions
  * with different core counts and in opposite orders; a query whose row count
  * agrees but whose content hash does not is pinned as rows-only, and one
  * whose row count also differs is not pinned. Also records each query's
  * warm time, which is what the stratified query-mix slice is sized by.
  */
object Pin {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, outFile) = args.take(2)
    val names = args.lift(2).map(_.split(",").toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq).sorted
    def pass(cores: Int, order: Seq[String]) = {
      val spark = GraftSession.create(s"local[$cores]", cores)
      spark.sparkContext.setLogLevel("ERROR")
      val out = order.map { n =>
        val t0 = System.nanoTime()
        val r = try Right(Fingerprint(SparkEntry.queries(n)(spark, dataDir).collect()))
          catch { case t: Throwable => Left(t.getClass.getSimpleName) }
        n -> (r, (System.nanoTime() - t0) / 1e9)
      }.toMap
      spark.stop()
      out
    }
    val a = pass(4, names)
    val b = pass(2, names.reverse)
    val w = new java.io.PrintWriter(outFile, "UTF-8")
    try names.foreach { n =>
      val ((ra, ta), (rb, tb)) = (a(n), b(n))
      val line = (ra, rb) match {
        case (Right((ca, ha)), Right((cb, hb))) if ca == cb && ha == hb => s"$n\t$ca\t$ha"
        case (Right((ca, _)), Right((cb, _))) if ca == cb => s"$n\t$ca\t-"
        case _ => s"$n\t-\t-"
      }
      w.println(f"$line\t$ta%.3f\t$tb%.3f")
    } finally w.close()
  }
}
