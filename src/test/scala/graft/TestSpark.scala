package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object TestSpark {
  // zero retention grace for the test JVM: every retiring op reclaims its
  // replaced files at exit (the pre-r12 eager-deletion semantics plain
  // directory-read assertions expect). The retention/racing-reader tests
  // override the prop per-test and restore it.
  sys.props("graft.retire.grace.ms") = "0"

  lazy val spark: SparkSession = {
    val s = Session(4, 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Stage the NORMALIZED events frame (int64-ns ts — Tables.read's
    * convention) as a fresh parquet directory for the file streaming
    * source. A raw file copy would hand the stream whatever ts type the
    * testdata parquet carries (µs-timestamp since round 8), while Streams'
    * event-time math and the batch twins both assume epoch-ns longs.
    */
  def stageEvents(sfDir: String, name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(name)
    graft.io.Tables.read(spark, sfDir, "events")
      .write.mode("overwrite").parquet(dir.toString)
    dir.toString
  }
}
