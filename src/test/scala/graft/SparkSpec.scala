package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (one JVM-wide session — ScalaTest
  * suites run sequentially in the forked test JVM). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sc: org.apache.spark.SparkContext = spark.sparkContext

  /** Each test body runs in one GateUtil scope: library cores a test
    * calls record their checkpoints and caches there, and the scope
    * frees them when the test ends. */
  private var testScope: Option[GateUtil.Scope] = None
  implicit def gateScope: GateUtil.Scope =
    testScope.getOrElse(sys.error("gateScope is only open inside a test body"))

  override def withFixture(test: NoArgTest) = GateUtil.scoped { s =>
    testScope = Some(s)
    try super.withFixture(test) finally testScope = None
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
