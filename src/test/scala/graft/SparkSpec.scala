package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  val sfDir = "/root/testdata/sf0.001"

  /** Run `body` with `settings` set on the shared session, then put back
    * each key's prior value (or unset it), so no setting leaks into the
    * tests that run after this one in the same JVM.
    */
  def withConf[A](settings: Map[String, String])(body: => A): A = {
    val saved = settings.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.maxFields", "200")
      .config(GraftSession.streamingConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Every single-partition window the library plans is adjudicated and
    // pinned by PlanAuditSpec's allowedGlobalWindows; its "No Partition
    // Defined" warning would otherwise make up most of the suite's log.
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    s
  }
}
