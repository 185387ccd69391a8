package perfbench

import org.apache.spark.sql.SparkSession

/** One local session shared by the benchmark's own tests. */
object BenchSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]").appName("perfbench-test")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  lazy val templates = ItemGen.templates(new java.io.File(sys.props("perfbench.fixtures")))

  def tempDir(prefix: String): java.io.File = {
    new java.io.File(sys.props("java.io.tmpdir")).mkdirs()
    java.nio.file.Files.createTempDirectory(prefix).toFile
  }
}
