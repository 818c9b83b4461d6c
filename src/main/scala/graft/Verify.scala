package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Bench.localSession()
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (regex on query name); the driver never
    // sets it, so the gate always runs the full inventory.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    def selected(name: String): Boolean =
      only.forall(_.findFirstIn(name).isDefined)
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Output-schema lint (round-15): the driver's hash
        // canonicalizes DECIMAL output differently per engine, so a
        // decimal-typed gated column is a guaranteed hash mismatch
        // even when every value is equal (the round-14 q390-family
        // failure). Wide decimal arithmetic must stay INTERNAL; the
        // report projection is BIGINT/DOUBLE/STRING. Fail loud here
        // so the bug is an err locally, never a silent red gate.
        val dec = df.schema.fields.filter(
          _.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType])
        require(dec.isEmpty, s"decimal-typed output column(s) " +
          s"${dec.map(_.name).mkString(", ")} — cast report columns " +
          "to BIGINT (keep decimal arithmetic internal)")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
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
    // When the dev-only subset filter is active, mark the artifacts
    // loudly (a sentinel file + a marker key): a filtered run must
    // never be mistakable for a full-inventory pass downstream.
    val marker = only.map(r => s"${q("__subset__")}: ${q(r.regex)}")
    if (only.isDefined)
      Files.writeString(Paths.get(s"$outDir/SUBSET_RUN"),
        s"partial verify: SPARK_GRAFT_ONLY=${only.get.regex}\n")
    val json = (SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" } ++ marker)
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
