package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite, never per test. */
trait SparkSpec extends AnyFunSuite {
  // strict: the pinned session exists before any test runs, so a test
  // that enters through the CLI first still finds it
  val spark: SparkSession = SparkSpec.session
  def sqlf(q: String) = spark.sql(q)
}

object SparkSpec {
  /** The program's session ([[ExecMode.session]], GraftExtensions
    * included), pinned to 4 cores and 4 shuffle partitions whatever
    * SPARK_GRAFT_CPUS says, so specs do not depend on the machine.
    */
  lazy val session: SparkSession = {
    val s = ExecMode.session(master = "local[4]", shufflePartitions = "4")
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
