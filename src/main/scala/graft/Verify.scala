package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (dev runs of a subset;
    // the driver always passes exactly two args = full suite)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) =>
        // tolerate the [q1,q2] spelling; a subset naming NO real query
        // must fail loudly — a vacuous verify looks exactly like a
        // passing one (measured: bracketed names silently matched
        // nothing and oracle_check reported FAILURES: 0 over nothing)
        val names = f.stripPrefix("[").stripSuffix("]").split(',').toSet
        val unknown = names.diff(SparkEntry.queries.keySet)
        require(unknown.isEmpty,
          s"unknown queries in subset: ${unknown.mkString(", ")}")
        (s, o, Some(names))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    // each query's jobs carry its name as their description, and the
    // name goes to stderr first, so a log line it causes follows it
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      System.err.println(s"[verify] $name")
      spark.sparkContext.setJobDescription(name)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    spark.sparkContext.setJobDescription(null)
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
    // each oracle string is built on its own: one that throws (a missing
    // model fixture) is recorded as `oracle:<query>` and the rest are
    // still written
    val oracleFailed = scala.collection.mutable.LinkedHashMap[String, String]()
    val json = SparkEntry.oracleSql.flatMap { case (k, sql) =>
      try Some(s"${q(k)}: ${q(sql())}")
      catch { case e: Throwable =>
        oracleFailed(s"oracle:$k") = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] oracle for $k failed: ${e.getMessage}")
        None
      }
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // A query that throws must surface as an explicit failure, never as a
    // silently-missing report entry (ADVICE r8): dump every error to a
    // sidecar the judge can read, print a prominent summary, and exit
    // nonzero so the runner records the run itself as failed.
    val errors = failed ++ oracleFailed
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size}/${SparkEntry.queries.size} queries and " +
          s"${oracleFailed.size}/${SparkEntry.oracleSql.size} oracles FAILED: " +
          errors.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
