package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One SparkSession per suite (guide: /opt/skills/guides/spark_guide.md). */
trait SparkTestBase extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.host", "localhost")
    .getOrCreate()

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("ERROR")
  }

  /** Every directory [[tmpDir]] made, deleted after the suite. */
  private val tmpDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally tmpDirs.forEach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))

  def resourceLines(name: String): Seq[String] = {
    val in = getClass.getResourceAsStream(name)
    require(in != null, s"missing test resource $name")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  def tmpDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tmpDirs.add(p)
    p.toString
  }
}
