package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One local session per suite, with the benchmark's own settings. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName(getClass.getSimpleName)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toFile.getAbsolutePath
}
