package graft
import org.apache.spark.sql.SparkSession

/** What the driver mains ([[Bench]], [[Verify]] and the `graft.tools`
  * mains) share: one local session shape, one query-family rule and one
  * JSON string literal. */
object Mains {
  /** Local parallelism, set by the environment; default every core. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC session
    * time, no UI and WARN logging; `extra` confs are set on top. */
  def localSession(extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A query's family: its name up to the first `_`. `enrich_industry`
    * reads the Memo'd dedup pipeline, so it runs (and is released) with
    * the dedup family. */
  def familyOf(name: String): String = name.takeWhile(_ != '_') match {
    case "enrich" => "dedup"
    case f => f
  }

  /** `s` as a quoted JSON string: backslash, quote and every control
    * character escaped (Spark exception messages carry newlines, and
    * one raw control character invalidates the whole document). */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
