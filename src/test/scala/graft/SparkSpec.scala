package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one SparkContext). */
object SparkSpec {
  lazy val session: SparkSession =
    graft.engine.Tables.builder("graft-test")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      // Hive catalog (SURVEY §2.8 C1) backed by a local derby metastore
      // under target/ — needed for metastore-managed partition
      // visibility in SinksSpec (K5 commit-delay semantics).
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .config("javax.jdo.option.ConnectionURL",
        "jdbc:derby:;databaseName=target/metastore_db;create=true")
      .enableHiveSupport()
      .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"

  /** Run `f` with interpreted fallback DISABLED so a Janino compile
    * failure in any custom expression's doGenCode throws instead of
    * silently degrading the whole stage to interpreted execution
    * (the r15 graft_adc margin-strip bug shipped green because the
    * fallback ate the error). */
  def strictCodegen[T](f: => T): T = {
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback")
    val prevMode = spark.conf.get("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try f finally {
      spark.conf.set("spark.sql.codegen.fallback", prevFallback)
      spark.conf.set("spark.sql.codegen.factoryMode", prevMode)
    }
  }

  /** Temp dir helper rooted under target/ (inside the repo). */
  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), prefix)
    d.toAbsolutePath.toString
  }
}
