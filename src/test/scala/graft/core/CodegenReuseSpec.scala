package graft.core

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ConnectedComponents, EdgeStore, LabelStore}

/** Whole-stage-codegen classes must be reused from one store cycle to the
  * next. A warm cycle that recompiles its classes pays Janino on every op:
  * with Spark's default 100-entry cache, or with stage ids in the class
  * names (AQE renumbers stages between runs), the same plans miss. */
class CodegenReuseSpec extends AnyFunSuite with BeforeAndAfterAll {

  // a GraftSession-shaped session; GraftSession's spark.sql.extensions
  // only bind on a FRESH session, so stop whatever an earlier suite left
  private lazy val spark = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
      .foreach(_.stop())
    val s = GraftSession.builder("local[2]", Some(4))
      .appName("codegen-reuse-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }

  /** One small store cycle on fresh dirs: seed + append an edge store,
    * seed a label store and drop two nodes from it. */
  private def cycle(pass: Int): (Seq[(Long, Long, Long)], Seq[(Long, Long)]) = {
    val s = spark
    import s.implicits._
    val edges = Files.createTempDirectory(s"graft_cg_edges_$pass").toString
    EdgeStore.write(Seq((1L, 2L, 5L), (2L, 3L, 1L)).toDF("src", "dst", "w"),
      "src", "dst", Some("w"), edges, nBuckets = 8)
    EdgeStore.append(Seq((1L, 2L, 3L), (4L, 5L, 1L)).toDF("src", "dst", "w"),
      "src", "dst", Some("w"), edges, nBuckets = 8, runId = Some(s"run$pass"))
    val labels = Files.createTempDirectory(s"graft_cg_labels_$pass").toString
    val pairs = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 20L -> 21L,
      30L -> 31L).toDF("id_a", "id_b")
    LabelStore.write(ConnectedComponents.run(pairs, "id_a", "id_b"), labels,
      nBuckets = 8)
    LabelStore.dropNodes(s, labels, Seq(3L, 20L).toDF("n"), "n", pairs,
      "id_a", "id_b")
    (EdgeStore.read(s, edges).as[(Long, Long, Long)].collect().sorted.toSeq,
      LabelStore.read(s, labels).as[(Long, Long)].collect().sorted.toSeq)
  }

  test("GraftSession sizes the codegen cache and drops stage ids from class names") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "1024")
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") === "false")
  }

  test("a repeated store cycle reuses its compiled classes") {
    val first = cycle(1)
    val before = CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount
    val second = cycle(2)
    val compiled = CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount - before
    assert(second === first)
    // a few classes may still be new: AQE's runtime join and aggregate
    // choices are not identical from pass to pass (0-8 new classes seen;
    // 110 of 143 without the GraftSession settings)
    assert(compiled <= 16,
      s"second pass compiled $compiled new classes; the first pass's should be reused")
  }
}
