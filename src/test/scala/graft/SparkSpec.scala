package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs: UTC, 8 shuffle partitions (small
  * data), AQE on, partitionOverwriteMode=dynamic — mirrors the Verify/
  * Bench (GraftSession) session shape. The dynamic default matters: it is
  * the production mode under which partition-overwrite semantics bugs
  * hide (a static-only test session once masked a full-refresh bug that
  * silently kept stale partitions). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String, table: String) =
    spark.read.parquet(s"/root/testdata/$dir/$table.parquet")
}

object SparkSpec {
  // All suites share one forked JVM (Test / fork := true, sequential), and
  // several suites stop the session in afterAll — so this must hand out a
  // FRESH session whenever the previous one was stopped, not a lazy
  // singleton pinned to a dead SparkContext.
  private var current: SparkSession = _
  def session: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped) current = build()
    current
  }
  private def build(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      // mirror GraftSession: the engine's semantic contract is ANSI mode
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // mirror GraftSession: no generate-filter inference (it duplicates
      // expensive generator children into interpreted Filters)
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // mirror GraftSession: codegen classes reusable across ops. The
      // cache is JVM-wide and sized by the first session to run codegen,
      // which in the forked test JVM is usually this one.
      .config("spark.sql.codegen.cache.maxEntries", "1024")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
