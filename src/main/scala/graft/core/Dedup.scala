package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** D1 — keep-FIRST deduplication on a composite key (SURVEY §2.5; reference
  * /root/reference/flows/pipeline.py:154-156, pandas
  * `drop_duplicates(keep="first")` = first in input-file order).
  *
  * Spark's `dropDuplicates` keeps an ARBITRARY row per key (whichever the
  * partial aggregate sees first), so faithful keep-first needs an explicit
  * order column stamped BEFORE any shuffle, then a ranking window.
  *
  * Scale note: the window shuffles once on the key columns — same cost as
  * `dropDuplicates` itself (also one shuffle on the keys).
  */
object Dedup {

  val IngestIdCol = "_ingest_id"

  /** Stamp input order as an orderable struct. `monotonically_increasing_id`
    * alone is NOT sound: Spark packs file splits into partitions sorted by
    * size descending, so partition index does not track file order. Instead we
    * order by (file path, split byte offset, within-partition row position):
    * a single split is never divided across partitions, so the within-
    * partition id only ever breaks ties inside one split, where it does
    * increase in file order. Lexicographic struct comparison then reproduces
    * byte order of the input regardless of split packing.
    *
    * Must be called directly on a file scan (the hidden `_metadata` column
    * only resolves there), before any shuffle/repartition. Non-file sources
    * (tests, in-memory frames) fall back to `monotonically_increasing_id`,
    * which is exact for a parallelized local collection.
    */
  def stampIngestOrder(df: DataFrame): DataFrame = {
    val hasFileMetadata =
      scala.util.Try(df.select(col("_metadata.file_path"))).isSuccess
    if (hasFileMetadata)
      df.withColumn(IngestIdCol,
        struct(
          col("_metadata.file_path").as("file"),
          col("_metadata.file_block_start").as("block"),
          monotonically_increasing_id().as("pos")))
    else
      df.withColumn(IngestIdCol,
        struct(lit("").as("file"), lit(0L).as("block"),
          monotonically_increasing_id().as("pos")))
  }

  /** Keep the first row (by `orderCol`) per composite key. Key list is
    * filtered to existing columns, like the reference (pipeline.py:154-155);
    * no keys present → no-op.
    */
  def keepFirst(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame = {
    val present = keys.filter(df.columns.contains)
    if (present.isEmpty) df
    else {
      val w = Window.partitionBy(present.map(col): _*).orderBy(col(orderCol).asc)
      df.withColumn("_kf_rn", row_number().over(w))
        .filter(col("_kf_rn") === 1)
        .drop("_kf_rn")
    }
  }

  /** Reference-exact composite key + stamped-order variant: dedup on
    * (timestamp, receiving_address, transaction_type, amount) keeping first
    * input row. Requires `stampIngestOrder` to have run at scan time.
    */
  def keepFirstByIngestOrder(df: DataFrame): DataFrame = {
    require(df.columns.contains(IngestIdCol),
      s"call stampIngestOrder at scan time before keepFirstByIngestOrder")
    keepFirst(df,
      Seq("timestamp", "receiving_address", "transaction_type", "amount"),
      IngestIdCol)
  }
}
