package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.Map.empty[String, (String, String)]
    // Local-iteration filter: SPARK_GRAFT_ONLY=q_a,q_b runs just those
    // queries (unset — the driver's case — runs everything).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.schedule.foreach { case (names, after) =>
      names.filter(n => only.forall(_.contains(n))).foreach { name =>
        try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failures(name) = (e.getClass.getName,
            String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse(""))
        }
      }
      after()
      // free dropped localCheckpoint blocks NOW: ContextCleaner only
      // releases a checkpointed RDD's blocks after the JVM collects the
      // frame, so a 330-query session otherwise accumulates pinned blocks
      // for a whole round — ambient pressure on every later query (the
      // r13 ~1.3x suite-wide inflation suspect). One GC per group is
      // noise-level cost next to the group itself.
      System.gc()
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
    // failure manifest: each query that threw → its exception class and
    // first message line, `{}` on a clean run. The exit code stays 0, so
    // every other query is still compared.
    val failed = failures.toSeq.sortBy(_._1).map { case (k, (cls, msg)) =>
      s"${q(k)}: {${q("class")}: ${q(cls)}, ${q("message")}: ${q(msg)}}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"), failed)
    spark.stop()
  }
}
