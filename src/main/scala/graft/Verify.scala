package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

import graft.queries.QueryRegistry

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [queryName...] — the optional names restrict the
    // dump for local iteration; the driver passes only (sfDir, outDir)
    val Array(sfDir, outDir) = args.take(2)
    val nameFilter: String => Boolean =
      if (args.length > 2) args.drop(2).toSet else (_ => true)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // stable (sorted) emission order: the driver slices/enumerates results,
    // and Map iteration order is build-dependent — r10 dropped
    // q_window_range_frame from the verified set with no error logged.
    QueryRegistry.all.sortBy(_.name).filter(spec => nameFilter(spec.name)).foreach { spec =>
      try spec.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${spec.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${spec.name} failed: ${e.getMessage}")
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
    // sorted by name so two dumps byte-compare
    val json = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
