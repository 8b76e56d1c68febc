package graft

import org.apache.spark.sql.SparkSession

object TestSparkSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // Spark still defaults parquet timestamps to INT96, which has NO
      // column statistics: every scan-bound assertion in this suite
      // (zero-rescan pins, the band-bounded late re-scan) depends on
      // ts row-group pruning over test-written files — micros, like the
      // Bench/Verify sessions and any sane deployment
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** ParquetQueryCache's two state-write paths, as (test-name suffix,
    * driver-write bound override): the driver path at the default bound
    * (every test state here is small), the distributed write at 0. */
  val stateWritePaths: Seq[(String, Option[Long])] =
    Seq("" -> None, " [distributed state writes]" -> Some(0L))

  /** run `f` with ParquetQueryCache's driver-write bound set to `bytes`
    * (None: unchanged) */
  def withDriverStateMaxBytes[A](bytes: Option[Long])(f: => A): A = {
    import graft.cache.ParquetQueryCache
    val old = ParquetQueryCache.driverStateMaxBytes
    bytes.foreach(ParquetQueryCache.driverStateMaxBytes = _)
    try f finally ParquetQueryCache.driverStateMaxBytes = old
  }

  /** the table `table` of the live head of the index part `part` (see
    * [[graft.operators.IncrementalDedup]]'s layout), None when the part
    * has no live head */
  def indexTable(indexDir: String, part: String, table: String)
      : Option[String] = {
    val p = new org.apache.hadoop.fs.Path(indexDir, part)
    val vd = graft.util.VersionedDir(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    vd.head.filterNot(_.tombstone)
      .map(h => s"${vd.path(h.dataDirs.head)}/$table")
  }

  def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$tag-")
    d.toFile.deleteOnExit()
    d.toString
  }
}
