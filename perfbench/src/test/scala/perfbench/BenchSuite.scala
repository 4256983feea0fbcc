package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

trait BenchSuite extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def withTempDir[T](body: String => T): T = {
    val dir = Files.createTempDirectory("perfbench").toFile
    def delete(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
      f.delete()
    }
    try body(dir.getPath) finally delete(dir)
  }
}
