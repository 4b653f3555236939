package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — re-dump only
    // those (partial re-verification after a targeted fix). The driver
    // always calls with 2 args, so its contract is unchanged.
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // the bench's session shape: the gate checks what Bench times
    val spark = GraftSession.local(GraftSession.cores)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Declarative scale classes: above the demo-corpus threshold the
    // demo-pinned configs are excluded automatically (they are
    // documented walls, see ScaleClasses) — UNLESS named explicitly in
    // the filter arg, which always wins. The classification ships with
    // the output so the gate artifact declares its own exclusions.
    val above = ScaleClasses.aboveThreshold(spark, sfDir)
    val excludedMap = ScaleClasses.exclusions(spark, sfDir)
    Files.writeString(Paths.get(s"$outDir/scale_classes.json"),
      ScaleClasses.declarationJson(above, excludedMap))
    def autoExcluded(name: String): Boolean =
      excludedMap.contains(name) && only.isEmpty
    if (only.isEmpty) excludedMap.keys.toSeq.sorted.foreach { n =>
      System.err.println(s"[verify] excluding scale-classed $n above its threshold")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .filterNot { case (name, _) => autoExcluded(name) }
      .foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): coalesce folds the whole
      // final stage onto one thread, which serializes queries with an
      // expensive post-shuffle tail (the simhash md5 twin's 40M-pair
      // hamming ran 13+ min single-core at sf1); repartition adds one
      // tiny shuffle of the result rows and keeps the tail parallel.
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally CacheScope.releaseAll()
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
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Manifest of EVERY declared query, so the checker can flag a
    // rows-only query that threw (its output dir never appears) instead
    // of silently skipping it.
    val manifest = SparkEntry.queries.keys.toSeq.sorted
      .map(q).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/manifest.json"), manifest)
    QueryMemo.clear()
    spark.stop()
  }
}
