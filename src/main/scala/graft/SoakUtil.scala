package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Shared plumbing for the soak mains ([[OpsSoak]],
 * [[IndexMaintenanceSoak]]) and the streaming specs: ordered chunk-file
 * generation for the file source, and the one-file-per-batch reader.
 */
object SoakUtil {

  /** Split `df` into `n` sequential chunk files under `dir` with
   *  strictly increasing mtimes so the file source replays them in
   *  order, one per micro-batch. `orderCol` defines the chunking.
   *  `offset` shifts the chunk numbering (names AND mtimes) so a later
   *  wave written into the SAME source dir sorts and replays strictly
   *  after an earlier one — the two-phase soak shape (stream wave A →
   *  maintenance at a safe point → stream wave B from the same
   *  checkpoint). */
  def writeChunks(spark: SparkSession, df: DataFrame, orderCol: String,
      dir: String, n: Int, offset: Int = 0): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = s"$dir.tmp"
    df.withColumn("_chunk", ntile(n).over(
        org.apache.spark.sql.expressions.Window.orderBy(col(orderCol))))
      .repartition(col("_chunk"))
      .write.partitionBy("_chunk").parquet(tmp)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    (1 to n).foreach { i =>
      val src = new org.apache.hadoop.fs.Path(s"$tmp/_chunk=$i")
      val files = fs.listStatus(src).filter(f =>
        f.isFile && f.getPath.getName.endsWith(".parquet"))
      files.zipWithIndex.foreach { case (f, j) =>
        val dst = new org.apache.hadoop.fs.Path(dir,
          f"chunk_${i + offset}%04d_$j.parquet")
        fs.rename(f.getPath, dst)
        fs.setTimes(dst, 1700000000000L + (i + offset) * 60000L, -1)
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }

  def streamDir(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
}
