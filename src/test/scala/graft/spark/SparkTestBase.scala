package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (one per suite; small core count
  * keeps the test matrix fast).
  */
abstract class SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  @transient protected lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val tmpDirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = {
    super.afterAll()
    tmpDirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }

  /** Run `body` so that generated code which fails to compile raises,
    * instead of Spark's silent fallback to interpreted evaluation (of a
    * whole stage, or of one projection outside whole-stage codegen). */
  protected def compiledOnly[T](body: => T): T = {
    val confs = Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** A fresh directory under java.io.tmpdir, deleted with its contents
    * after the suite. */
  protected def tmpDir(prefix: String): String = synchronized {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tmpDirs += d
    d.toString
  }
}
