package etlbench

import java.io.File

object Util {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else if (f.isFile) Seq(f) else Nil

  /** Bytes of the data files under `f` (Hadoop's `.crc` side files excluded). */
  def treeBytes(f: File): Long = files(f).filterNot(_.getName.endsWith(".crc")).map(_.length).sum

  /** Number of parquet part files under `f`. */
  def parquetFiles(f: File): Int = files(f).count(_.getName.endsWith(".parquet"))

  /** Row count of a parquet directory from its footers, without a job. */
  def parquetRows(spark: org.apache.spark.sql.SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    files(new File(dir)).filter(_.getName.endsWith(".parquet")).map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
