package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (UTC, small shuffle width). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** A fresh scratch dir, deleted recursively when the test JVM exits.
    * Paths a test derives from it belong inside it, not beside it. */
  def tmpDir(prefix: String): String =
    graft.io.TempDirs.createDeletedOnExit(prefix).getAbsolutePath
}

object SparkSpec {
  lazy val session: SparkSession = SparkEntry.localSession(4)
}
