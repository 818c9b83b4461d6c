package graft

import graft.operators.Stage
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` under the given session settings, then restores them. */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A fresh directory named `prefix…` for a test's files, under
    * [[SparkSpec.scratchRoot]]: specs create no directory elsewhere. */
  def scratchDir(prefix: String): Path =
    Files.createTempDirectory(SparkSpec.scratchRoot, prefix)
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** This JVM's one directory for spec files, inside the run directory
    * [[Stage.runRoot]], which is deleted at exit: a test run leaves
    * nothing behind in the tmpdir. */
  lazy val scratchRoot: Path = Files.createDirectories(Stage.runRoot.resolve("specs"))
}
