package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [queryName...] — names (if any) restrict the dump
    // to those queries for fast single-query iteration; the driver always
    // calls with exactly two args, so its gate still covers the full set.
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = graft.core.Tuning.session()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
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
    // oracle_sql.json is written FIRST: if a query dump (or the oracleSql
    // map's own initialization) throws later, a rerun into the same outDir
    // must never pair fresh parquet with a STALE oracle file from a
    // previous run — that combination can mask a broken oracle as green.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // A name-filtered run dumps a SUBSET into the same outDir layout as a
    // full gate run; without a marker, a consumer that assumes the dump is
    // complete could read a partial green as full coverage (ADVICE r9). A
    // full run DELETES any stale marker so a reused outDir can't stay
    // flagged partial after a genuine full pass.
    val partialMarker = Paths.get(s"$outDir/_partial.json")
    if (only.nonEmpty)
      Files.writeString(partialMarker,
        only.toSeq.sorted.map(q).mkString("{\"only\": [", ",", "]}"))
    else Files.deleteIfExists(partialMarker)
    // verify_errors.json is written FIRST as an empty object and rewritten
    // after every failure: a query error must never silently shrink the
    // correctness file again (round 7: a broken events reader dropped 24
    // queries from CORRECTNESS with only a stderr line as evidence). The
    // driver — and the local tools/check.py gate — can assert it is empty.
    val errs = scala.collection.mutable.LinkedHashMap[String, String]()
    def dumpErrs(): Unit = Files.writeString(
      Paths.get(s"$outDir/verify_errors.json"),
      errs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    dumpErrs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errs(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        dumpErrs()
      }
    }
    if (errs.nonEmpty)
      System.err.println(s"[verify] ${errs.size} queries FAILED: ${errs.keys.mkString(", ")}")
    spark.stop()
  }
}
