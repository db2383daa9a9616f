package graft.core

import org.apache.spark.sql.SparkSession

/** Scale-dependent AQE partition-sizing knobs for every main
  * (Bench / Verify / PipelineMain), parameterised by env so the
  * production values need no rebuild (optimization guide §2.2 "fewer,
  * larger reduce partitions").
  *
  * LOCAL DEFAULTS ARE SPARK'S STOCK VALUES — measured, not assumed. The
  * round-15 interleaved A/B (4 alternating fresh-JVM runs over a 30-query
  * tail sample at sf0.1 / local[32]; bench_partial.json methodology,
  * min-of-mode) read: `parallelismFirst=false` (coalesce to the 64 MB
  * advisory byte target) 16.0 s vs stock `parallelismFirst=true` 15.1 s,
  * stock better on 21/30 queries. With KB-sized shuffles and zero network,
  * local[32]'s per-task overhead is so small that 32 tiny reduce tasks
  * beat one coalesced partition's serialized execution — so forcing the
  * byte target is a LOSS here, and the stock default stays.
  *
  * At 100 TB the trade inverts: post-shuffle partitions should be sized by
  * BYTES (Spark's own config doc recommends `parallelismFirst=false` so
  * `advisoryPartitionSizeInBytes` governs; §2.2's 100 MB–1 GB range keeps
  * the M×R shuffle-block count and per-task overhead sane on a real
  * network). Production: set SPARK_GRAFT_COALESCE_PARALLELISM_FIRST=false
  * and SPARK_GRAFT_ADVISORY_PARTITION_BYTES=256m on the cluster — the
  * harness picks both up without a rebuild, and the local bench stays
  * comparable on stock defaults.
  */
object Tuning {
  // Only set a key when its env var is present (ADVICE r15): the old
  // unconditional .config(key, stockDefault) silently overrode any
  // spark-defaults.conf / --conf value for these keys even when no
  // override was requested. Absent env vars now leave external Spark
  // configuration fully effective; the local bench behavior is unchanged
  // (the hardcoded fallbacks WERE Spark's stock values).
  def adaptive(b: SparkSession.Builder): SparkSession.Builder = {
    val withPf = sys.env.get("SPARK_GRAFT_COALESCE_PARALLELISM_FIRST")
      .map(v => b.config(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst", v))
      .getOrElse(b)
    sys.env.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES")
      .map(v => withPf.config(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", v))
      .getOrElse(withPf)
  }

  /** The one SparkSession every main and the test suite build: local[cpus]
    * with as many shuffle partitions, UTC session time, UI off, graft's
    * engine extensions installed (functions, `TopKRewrite`, `TopKPerKey`,
    * the `DEDUP` parser), plus the env-gated AQE knobs above. `cpus`
    * defaults to SPARK_GRAFT_CPUS, else 4. */
  def session(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession =
    adaptive(SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
}
