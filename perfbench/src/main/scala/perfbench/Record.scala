package perfbench

import java.io.{File, PrintWriter}

/** Records the sql_batch fingerprints. Generates the tables, runs each
  * given query (default: every `q*` query) once, and writes under `<out>`:
  * the result of each query as parquet, `candidates.json` with its
  * fingerprint, and `oracle_sql.json` with its DuckDB oracle.
  * `record_fingerprints.py` runs this and keeps the fingerprints whose
  * results match their oracle.
  *
  * usage: perfbench.Record <out dir> <scale> [query ...] */
object Record {
  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
    .replace("\n", "\\n").replace("\t", "\\t") + "\""

  def main(args: Array[String]): Unit = {
    val out = new File(args(0)).getAbsoluteFile
    val sf = args(1).toDouble
    val names = if (args.length > 2) args.drop(2).toSeq
      else graft.SparkEntry.queries.keys.filter(_.startsWith("q")).toSeq.sorted
    out.mkdirs()
    val spark = Main.session(Runtime.getRuntime.availableProcessors(), out)
    val data = new File(out, "data").getAbsolutePath
    SqlData.write(spark, data, sf)
    val fps = names.flatMap { n =>
      try {
        val df = graft.SparkEntry.queries(n)(spark, data).persist()
        val fp = Fingerprint.of(df.collect())
        df.write.mode("overwrite").parquet(new File(out, s"results/$n").getAbsolutePath)
        df.unpersist()
        Some(s"""  ${q(n)}: {"rows": ${fp._1}, "hash": "${fp._2}"}""")
      } catch { case e: Throwable => System.err.println(s"[record] $n: $e"); None }
    }
    def write(name: String, body: String): Unit = {
      val w = new PrintWriter(new File(out, name), "UTF-8")
      try w.println(body) finally w.close()
    }
    write("candidates.json", fps.mkString("{\n", ",\n", "\n}"))
    val oracles = graft.SparkEntry.oracleSql
    write("oracle_sql.json", names.flatMap(n => oracles.get(n).map(s => s"  ${q(n)}: ${q(s)}"))
      .mkString("{\n", ",\n", "\n}"))
    spark.stop()
  }
}
