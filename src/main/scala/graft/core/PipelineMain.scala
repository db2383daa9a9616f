package graft.core

import org.apache.spark.sql.{AnalysisException, SparkSession}

/** C1/C4 — the reference's CLI entry point re-expressed
  * (/root/reference/flows/pipeline.py:222-268 and Dockerfile:12):
  * env-configured input + thresholds, exit 1 on missing input
  * (pipeline.py:226-229), exit 2 on a conformity-gate breach (README.md:51).
  */
object PipelineMain {

  /** Testable core: returns the process exit code instead of calling exit. */
  def runCli(
      spark: SparkSession,
      inputCsv: String,
      dataDir: String,
      curatedDir: String,
      minConformityPre: Double,
      minConformityPost: Double): Int =
    try {
      Pipeline.run(spark, inputCsv, dataDir, curatedDir,
        minConformityPre, minConformityPost)
      0
    } catch {
      case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" =>
        System.err.println(s"[pipeline] input not found: $inputCsv (${e.getMessage})")
        1
      case e: Quality.QualityGateException =>
        System.err.println(s"[pipeline] ${e.getMessage}")
        2
    }

  def main(args: Array[String]): Unit = {
    val inputCsv   = sys.env.getOrElse("INPUT_CSV", "input/df_fraud_credit.csv")
    val dataDir    = sys.env.getOrElse("DATA_DIR", "data")
    val curatedDir = sys.env.getOrElse("CURATED_DIR", "curated")
    val pre        = sys.env.getOrElse("MIN_CONFORMITY_PRE", "0.98").toDouble
    val post       = sys.env.getOrElse("MIN_CONFORMITY_POST", "0.995").toDouble

    val spark = Tuning.session()
    spark.sparkContext.setLogLevel("WARN")
    val rc = runCli(spark, inputCsv, dataDir, curatedDir, pre, post)
    spark.stop()
    if (rc != 0) sys.exit(rc)
  }
}
