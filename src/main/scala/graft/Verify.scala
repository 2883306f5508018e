package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query names — verify a subset
    // (local iteration); the driver always runs the full corpus.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.engine.Graft.session("verify", s"local[$cpus]", cpus.toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
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
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Report-only integrity sweep over the derived catalog (S4): every
    // engine-written table and index the gate queries just used gets the
    // structural + index-layout validation pass; results land beside the
    // dump. NEVER fails the run — the oracle compare is the gate, this is
    // evidence. Skipped for subset runs (local iteration).
    if (only.isEmpty) {
      try {
        val issues = graft.tables.Derived.checkAll(spark, sfDir)
        val body =
          if (issues.isEmpty) """{"ok": true, "issues": {}}"""
          else {
            val m = issues.map { case (n, is) =>
              s"${q(n)}: [${is.map(q).mkString(",")}]" }.mkString("{", ",", "}")
            s"""{"ok": false, "issues": $m}"""
          }
        Files.writeString(Paths.get(s"$outDir/INTEGRITY.json"), body)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] integrity sweep failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
