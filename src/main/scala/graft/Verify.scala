package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each registry query's verified shape
  * (`QueryDef.build`) → parquet, plus oracle_sql.json, for the driver's
  * DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Optional subset (comma-separated registry names) for fast local
    // iteration on new queries; the oracle json and manifest are filtered
    // to match so tools/check.py stays consistent on partial dumps.
    val only = QueryDef.only(sys.env.get("SPARK_GRAFT_ONLY"), SparkEntry.byName.contains)
    val selected = only.fold(SparkEntry.byName)(names => SparkEntry.byName.filter(kv => names(kv._1)))
    val spark = GraftSession("graft-verify", GraftSession.cores(default = 4))
    new java.io.File(outDir).mkdirs()
    // 4 queries in flight: the Spark scheduler is thread-safe and most
    // queries leave local[32] under-utilized (small shuffles, driver-side
    // planning); ~2× faster wall-clock than the sequential loop without
    // memory pressure. Each query writes to its own directory.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val tasks = selected.toSeq.map { case (name, d) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try d.build(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = selected
      .map { case (k, d) => s"${q(k)}: ${q(d.oracleSql)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Manifest of executed queries so checkers can distinguish real
    // rows-only outputs from stray directories (checkpoints, leftovers).
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      selected.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
